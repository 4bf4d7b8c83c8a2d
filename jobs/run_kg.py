"""spark-submit entry point for the KG-construction pipeline.

Cluster launch (the north-rule deployment shape):

    python tools/package_pyfiles.py     # -> dist/kartograph_spark.zip
    spark-submit \
        --py-files dist/kartograph_spark.zip \
        jobs/run_kg.py \
        --transcripts s3://bucket/warehouse/transcripts \
        --alias-dict  s3://bucket/warehouse/alias_dictionary \
        --out         s3://bucket/warehouse/kg \
        [--table]     # read --transcripts/--alias-dict as catalog tables
                      # (Iceberg) instead of parquet paths

No ``master`` is set here: the cluster manager (YARN/K8s/standalone)
provides it via spark-submit; local smoke runs pass ``--master local[8]``
on the spark-submit command line.  The same job resumes idempotently: the
out dir's per-stage resume manifests (``resume/<stage>.json``) skip
completed stages and mention buckets (config-hash gated).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="kartograph-spark KG pipeline")
    ap.add_argument("--transcripts", required=True, help="parquet path or table name")
    ap.add_argument("--alias-dict", required=True, help="parquet path or table name")
    ap.add_argument("--out", required=True, help="output warehouse dir")
    ap.add_argument("--table", action="store_true", help="read inputs as catalog tables")
    ap.add_argument("--n-buckets", type=int, default=256, help="resume granularity")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    # Imports of the shipped package happen after spark-submit has added
    # --py-files to sys.path.
    from pyspark.sql import SparkSession

    from kartograph_spark.config import PipelineConfig
    from kartograph_spark.pipeline import run_pipeline

    builder = (
        SparkSession.builder.appName("kartograph-kg-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = builder.getOrCreate()

    read = spark.read.table if args.table else spark.read.parquet
    transcripts = read(args.transcripts)
    alias_dict = read(args.alias_dict)

    cfg = PipelineConfig(n_buckets=args.n_buckets)
    metrics = run_pipeline(spark, transcripts, alias_dict, args.out, cfg)
    print("METRICS " + json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
