"""SparkSession factory tuned for the KG-construction workload.

Scale posture (design target: 1000-executor cluster / 100 TB transcripts;
sandbox: local[32] single JVM):

- AQE on: runtime partition coalescing + skew-join splitting cover the
  hot-entity / long-conversation skew the reference handled by hand
  (chunk binary-split, /root/reference/extraction/kg_extractor/orchestrator.py:637-687).
- Arrow enabled for the pandas surfaces that remain (the cross-turn
  grouped extractor, datapipe UDFs, ``toPandas``); the pipeline's own
  extraction is JVM-native and starts no Python worker.
- Driver heap fits the host: a quarter of physical RAM, at most 16 g,
  unless ``SPARK_DRIVER_MEM`` says otherwise.
- shuffle.partitions sized by caller; on a real cluster set ~2-3x total
  cores and let AQE coalesce down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the driver heap never defaults above this
MAX_DRIVER_MB = 16 * 1024


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: a quarter of physical RAM (read
    with ``os.sysconf`` unless given), capped at 16 g."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys_bytes // 4 // 2**20, MAX_DRIVER_MB)}m"


def get_spark(
    app_name: str = "kartograph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster you'd omit it and launch via spark-submit --py-files.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # 32 MB scan splits: a scan must never be narrower than the core
        # count just because files are large relative to the corpus (the
        # single-digit-GB local case); on a 100 TB table either value
        # yields thousands of splits, so the smaller one costs nothing.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
