"""Structured Streaming surfaces for incremental KG construction.

The reference is batch-only (SURVEY.md §2.12) — its closest analog is the
incremental per-N-chunks dedup loop (orchestrator.py:849-892).  These
operators are the Spark-native incremental path over the same semantics:

- ``stream_mentions``: readStream over a growing transcripts directory ->
  the SAME JVM-native extraction as the batch path -> parquet sink.
  ``Trigger.AvailableNow`` + the file-source checkpoint give exactly the
  reference's resume contract (process everything new, skip everything
  already done, idempotent across restarts) — the file-source ledger plays
  the role of the batch pipeline's resume manifests (J8).  On an
  Iceberg deployment the same code runs over incremental snapshots.
- ``stream_mention_counts``: event-time tumbling-window mention counts
  with a watermark for late turns — the streaming analog of the A4/A5
  aggregations, all JVM-side expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from kartograph_spark.extraction.mentions import extract_mentions

#: input contract (input_hint): the transcripts table schema
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

#: E1 regex, JVM-side mirror of rules.URN_MENTION_RE for the windowed agg
_URN_RE = "<urn:([^:>]+):([^>]+)>"


def read_transcript_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream over a transcripts directory (parquet files are
    the micro-batch unit; an Iceberg table source drops in unchanged)."""
    return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_path)


def stream_mentions(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Incremental mention extraction: new transcript files -> mention rows.

    Returns the started query (AvailableNow: drains everything new, then
    stops).  Re-running with the same checkpoint skips processed files —
    the streaming resume path (vs the batch resume manifests).
    """
    mentions = extract_mentions(read_transcript_stream(spark, input_path))
    return (
        mentions.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_review_flags(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Incremental MEDIUM-tier review flags (PROCESS.md:2149-2156): the
    same extraction as the batch path, filtered to the withheld
    indirect relationships and sunk as an append-only review queue.

    These flags are PRE-canonicalization (canonicalization is a
    corpus-global batch stage); the batch pipeline's review_flags table
    remains the canonical-URN form.  An incremental deployment streams
    this queue for human triage latency and reconciles URNs in the next
    batch canonicalization run.
    """
    from kartograph_spark.triples import clean_predicate_col, conv_subject_col

    m = extract_mentions(read_transcript_stream(spark, input_path))
    flags = m.filter(F.col("confidence") == "MEDIUM").select(
        "conv_id",
        "turn_idx",
        "kind",
        F.coalesce(F.col("subj_urn"), conv_subject_col()).alias("subj"),
        # same predicate cleaning as the batch review_flags table this
        # queue reconciles against (identity for today's MEDIUM preds,
        # but the two surfaces must never drift)
        clean_predicate_col(F.col("pred")).alias("pred"),
        F.col("urn").alias("obj"),
        F.lit("MEDIUM").alias("confidence"),
    )
    return (
        flags.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def windowed_mention_counts(
    transcripts: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window mention counts with late-data tolerance.

    Works on both batch and streaming DataFrames (same plan); in streaming
    append mode the watermark bounds state and controls window emission.
    JVM-side regexp (no Python) — this aggregation never needs the full
    extraction taxonomy, only the E1 URN class.
    """
    urns = transcripts.select(
        "ts",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_URN_RE), F.lit(0))
        ).alias("surface"),
    ).select(
        "ts",
        F.regexp_replace("surface", "[<>]", "").alias("urn"),
    )
    return (
        urns.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "urn")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "urn",
            "n_mentions",
        )
    )


#: output of the stateful first-mention operator
FIRST_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("urn", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
    ]
)

#: per-URN state: total mentions observed so far
_STATE_SCHEMA = T.StructType([T.StructField("n_seen", T.LongType())])


def _first_seen_fn(key, pdfs, state):
    """GroupState body for first_mention_stream: emit a urn exactly once
    (its stably-ordered first occurrence), then only accumulate counts."""
    import pandas as pd

    n_before = state.get[0] if state.exists else 0
    best = None
    total = 0
    for pdf in pdfs:
        total += len(pdf)
        cand = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").head(1)
        best = (
            cand
            if best is None
            else pd.concat([best, cand])
            .sort_values(["conv_id", "turn_idx"], kind="mergesort")
            .head(1)
        )
    state.update((n_before + total,))
    if n_before == 0 and best is not None:
        yield best[["urn", "conv_id", "turn_idx"]].astype({"turn_idx": "int64"})


def first_mention_stream(mentions: DataFrame) -> DataFrame:
    """Custom stateful operator (SURVEY §2.13 UDF surface, streaming
    analog of W1 first-occurrence): ``applyInPandasWithState`` keyed by
    urn, emitting each entity exactly once across ALL micro-batches — the
    incremental version of the batch first-occurrence dedup, with state
    bounded by the entity vocabulary (one counter per urn), not by the
    stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return mentions.select("urn", "conv_id", "turn_idx").groupBy("urn").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=FIRST_SEEN_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_first_mentions(
    spark: SparkSession,
    input_path: str,
    checkpoint_path: str,
    query_name: str = "first_mentions",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """First-mention stream into a memory sink (update mode).

    ``max_files_per_trigger`` slices the backlog into multiple
    micro-batches so cross-batch statefulness is observable in tests."""
    src = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    mentions = extract_mentions(src.parquet(input_path))
    return (
        first_mention_stream(mentions)
        .writeStream.format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


#: documents-stream input contract (matches the testdata documents table
#: plus an arrival timestamp for the watermark)
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def dedup_document_stream(docs: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup — the incremental form of ``dedup_exact``:
    first arrival of each content fingerprint survives, duplicates within
    the watermark horizon are dropped, and state EXPIRES past the horizon
    (``dropDuplicatesWithinWatermark``) so the dedup map is bounded by the
    event-time window, not the stream length — the contract a perpetual
    ingestion pipeline needs (a plain dropDuplicates would hold one state
    row per fingerprint forever).  The fingerprint is the same
    order-insensitive token-set md5 the batch path uses
    (textstats.fingerprints), so batch and streaming dedup agree on what
    counts as a duplicate."""
    fp = F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(F.split(F.col("text"), " ")))
        )
    )
    return (
        docs.withColumn("fp", fp)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def stream_dedup_documents(
    spark: SparkSession,
    input_path: str,
    checkpoint_path: str,
    query_name: str = "dedup_docs",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Deduplicated document stream into a memory sink (append mode);
    ``max_files_per_trigger`` slices the backlog so cross-micro-batch
    dedup state is observable in tests."""
    src = spark.readStream.schema(DOCUMENT_SCHEMA)
    if max_files_per_trigger:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        dedup_document_stream(src.parquet(input_path), watermark)
        .writeStream.format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def session_window_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session aggregation via Spark's native ``session_window``
    — one row per (user, session) with the session span and event count.
    Works identically on batch and streaming frames (with a watermark in
    streaming, state closes ``gap`` after the last event).  This is the
    same session semantics as the batch lag-window formulation
    (datapipe.relational.user_sessions): tested to produce identical
    per-user session counts — two independent plans, one contract."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_mention_counts(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Windowed mention counts as an append-mode parquet stream."""
    counts = windowed_mention_counts(
        read_transcript_stream(spark, input_path), window, watermark
    )
    return (
        counts.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
