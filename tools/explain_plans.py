"""Dump .explain('formatted') for every driver-contract query plus the KG
pipeline stages into BENCH/plans/ — the plan-level evidence that filters
push down, dictionary joins broadcast, and hot paths stay inside
whole-stage codegen.  Explain only (no job execution), so this is cheap.

A summary line per plan flags: PushedFilters present, BroadcastHashJoin
used, number of WholeStageCodegen spans, any row-at-a-time Python eval
(BatchEvalPython — should NEVER appear; ArrowEvalPython/MapInPandas are
the vectorized forms and are fine).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kartograph_spark.session import get_spark  # noqa: E402


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(name: str, text: str) -> str:
    # NOTE: pre-execution AQE plans never print WholeStageCodegen ids, so
    # a codegen count is meaningless here; shuffle count + the known
    # anti-pattern operators are the audit signals that matter.
    flags = []
    if "PushedFilters: [" in text and "PushedFilters: []" not in text:
        flags.append("pushdown")
    if "BroadcastHashJoin" in text:
        flags.append("broadcast-join")
    flags.append(f"shuffles x{text.count('Arguments: hashpartitioning')}")
    if "SortAggregate" in text:
        # informational: min over struct/string buffers sort-aggregates;
        # measured ~10% vs hash-agg on the dedup shape (12M rows, string
        # group keys dominate), so not worth giving up exact provenance
        flags.append("sort-agg (~10% vs hash-agg, measured)")
    if "CartesianProduct" in text:
        flags.append("!! CARTESIAN PRODUCT")
    if "BatchEvalPython" in text:
        flags.append("!! ROW-AT-A-TIME PYTHON")
    if "MapInPandas" in text or "ArrowEvalPython" in text:
        flags.append("arrow-udf")
    return f"{name}: {', '.join(flags)}"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(REPO, "BENCH", "plans")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry_mod

    def approx_two_hop(spark, sf):
        """Production (non-driver) variant: HLL + hub-capped wedge join —
        audited here so the cap's plan shape is on record alongside the
        exact oracle form."""
        from pyspark.sql import functions as F

        from kartograph_spark.components import two_hop_reach_approx

        t = entry_mod._kg_pipeline_triples(spark, sf).filter(F.col("obj_is_ref"))
        return two_hop_reach_approx(
            t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        )

    queries = dict(entry_mod.queries())
    queries["kg_two_hop_reach_approx (production variant)"] = approx_two_hop

    def large_pipeline(spark, sf):
        """10x bench corpus pipeline (kg_pipeline_large row in BENCH):
        the under-split guard's salted repartition + the corpus-sized
        dedup shuffle at AQE-relevant volume, on plan record."""
        from kartograph_spark import synth
        from kartograph_spark.pipeline import build_triples

        d = os.path.join(REPO, "data", f"bench_corpus_{synth.CORPUS_TAG}_50000")
        if not os.path.exists(os.path.join(d, "transcripts.parquet")):
            raise RuntimeError("large bench corpus absent (run bench.py first)")
        tr = spark.read.parquet(f"{d}/transcripts.parquet")
        al = spark.read.parquet(f"{d}/alias_dictionary.parquet")
        kept, _ = build_triples(spark, tr, al)
        return kept

    queries["kg_pipeline_large (10x corpus)"] = large_pipeline

    lines = []
    for name, fn in queries.items():
        try:
            text = plan_text(fn(spark, sf_dir))
        except Exception as e:
            # plan-only failures are visible in SUMMARY, but never replace
            # a plan file already on record with an error stub
            lines.append(f"{name}: EXPLAIN FAILED: {e}")
            continue
        with open(os.path.join(out_dir, f"{name.split(' ')[0]}.txt"), "w") as f:
            f.write(text)
        lines.append(summarize(name, text))

    with open(os.path.join(out_dir, "SUMMARY.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
