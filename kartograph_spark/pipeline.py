"""End-to-end KG-construction pipeline (SURVEY.md §3.1 Spark equivalent).

Stages:
  1. mentions   — scan transcripts -> JVM-native regex extraction
                  (map-only, resumable per conversation hash-bucket)
  2. canonical  — entity linking pairs + type normalization + connected
                  components -> broadcast rewrite
  3. triples    — edge/node/conversation triple emission -> first-
                  occurrence dedup agg -> mixed-type resolution -> encode
  4. validate   — broken-ref exclusion (anti join), orphans, record rules
  5. materialize— graph_nodes / graph_edges / triples tables + schema
                  manifest + metrics

Resume: each stage's one record is its ``resume/<stage>.json`` manifest
(lineage.py) — removed before the stage's first table write, written
after its table commit, so a stage is skipped only when its tables were
last fully written by this config.

Shuffle budget (design-for-100TB): the extraction stage is shuffle-free;
canonicalization shuffles only entity-vocabulary-sized frames; the one
corpus-sized shuffle is the dedup groupBy on (subj,pred,obj) — map-side
combinable, AQE-coalesced, and skew-tolerant because hot entities shard
across (pred,obj) combinations.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kartograph_spark import triples as tr
from kartograph_spark import validation as val
from kartograph_spark.canonical import canonicalize_mentions
from kartograph_spark.config import PipelineConfig
from kartograph_spark.extraction.mentions import (
    extract_mentions,
    low_confidence_log,
)
from kartograph_spark.graph import (
    TableStore,
    build_edges,
    build_nodes,
    infer_schema_manifest,
    infer_type_predicates,
    write_schema_artifacts,
)
from kartograph_spark.lineage import (
    completed_partitions,
    read_stage_marker,
    record_completed,
    write_metrics,
    write_stage_marker,
)
from kartograph_spark.reports import (
    ERROR_COLS,
    save_metrics_reports,
    save_validation_reports,
)


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def ensure_parallelism(
    spark: SparkSession, df: DataFrame, salt_turns: int
) -> DataFrame:
    """Guard against under-split inputs (few files / few row groups).

    On a real 100 TB table the scan itself yields thousands of splits and
    this is a no-op — we never pay an unconditional corpus shuffle.  When
    the scan has fewer partitions than cores (single-file fixtures, tiny
    extracts), repartition by (conv_id, turn-range): conversation affinity
    for the window stage plus the long-conversation salt (C2 analog) so a
    10^6-turn conversation doesn't pin one task.
    """
    cores = spark.sparkContext.defaultParallelism
    # 4x cores: tasks pack into even waves with small stragglers — a scan
    # with barely >= cores splits leaves cores idle at every wave tail
    if df.rdd.getNumPartitions() >= 4 * cores:
        return df
    return df.repartition(
        4 * cores,
        F.col("conv_id"),
        (F.col("turn_idx") / F.lit(salt_turns)).cast("int"),
    )


def run_mentions_stage(
    spark: SparkSession,
    transcripts: DataFrame,
    store: TableStore,
    cfg: PipelineConfig,
) -> tuple[DataFrame, bool]:
    """Resumable extraction stage: skip buckets the manifest lists as
    done for this config hash (J8 semantics, orchestrator.py:589-597).
    Returns the stored mentions and whether any bucket ran.

    Only a manifest of THIS config vouches for the table's other
    buckets, so only then is the write a dynamic per-bucket overwrite
    (the manifest stays: the write touches no bucket it lists).  Without
    one — missing, or another config's, whose bucket count may differ —
    the manifest is removed and every bucket re-runs as a FULL overwrite,
    so no stale partition survives.
    """
    done = completed_partitions(store.root, "mentions", cfg.config_hash)
    pending = [b for b in range(cfg.n_buckets) if b not in done]

    if pending:
        if not done:
            write_stage_marker(store.root, "mentions", None)
        sub = transcripts.withColumn("bucket", bucket_col(cfg.n_buckets))
        if done:
            sub = sub.filter(F.col("bucket").isin(pending))
        # Long-conversation salt (chunk-split analog): (conv_id, turn-range)
        # repartition so a 10^6-turn conversation doesn't pin one task —
        # applied only when the scan is under-split (extraction is per-turn,
        # so splitting is semantics-free and a well-split scan needs none).
        sub = ensure_parallelism(spark, sub, cfg.salt_turns)
        mentions = extract_mentions(sub).withColumn(
            "bucket", bucket_col(cfg.n_buckets)
        )
        # Per-bucket manifest rows ride the write job as observed metrics
        # (count(CASE bucket) per pending bucket) instead of re-reading and
        # re-aggregating the table afterwards — one job, not two; zero
        # counts for mention-less buckets fall out of count(NULL) = 0.
        obs = Observation("mention_bucket_counts")
        mentions = mentions.observe(
            obs,
            *[
                F.count(F.when(F.col("bucket") == b, 1)).alias(f"b{b}")
                for b in pending
            ],
        )
        w = mentions.write.mode("overwrite")
        if done:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.partitionBy("bucket").parquet(store.path("mentions"))
        got = obs.get
        counts = {b: int(got[f"b{b}"]) for b in pending}
        record_completed(store.root, "mentions", cfg.config_hash, counts)
    return spark.read.parquet(store.path("mentions")).drop("bucket"), bool(pending)


def build_triples(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    cfg: PipelineConfig | None = None,
    mentions: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Pure transformation composition (no store): returns (kept_triples,
    broken_ref_report).  Used by in-memory callers (__spark_entry__,
    bench); run_pipeline shares its triples_chain."""
    cfg = cfg or PipelineConfig()
    if mentions is None:
        # persist: the mention frame feeds type-norm, pair generation and
        # the canonical rewrite — without this the extraction re-runs
        # once per downstream action.  Only the extraction input needs the
        # under-split guard; conversation_triples is a partial aggregation
        # that parallelizes off the raw scan without a repartition shuffle.
        salted = ensure_parallelism(spark, transcripts, cfg.salt_turns)
        # surface is a debugging column no downstream stage reads — drop it
        # before the cache so the corpus-sized persist carries less data
        mentions = extract_mentions(salted).drop("surface").persist()
    canonical, _cmap = canonicalize_mentions(
        mentions, alias_dict, cfg.confidence_threshold
    )
    return triples_chain(canonical, transcripts)


def triples_chain(
    canonical: DataFrame, transcripts: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Canonical mentions -> (kept_triples, broken_ref_report): emission,
    first-occurrence dedup, uid>scalar resolution, encode, broken-ref
    split.  The one copy of the chain, shared by build_triples and the
    run_pipeline triples stage."""
    raw = tr.mention_triples(canonical).unionByName(
        tr.conversation_triples(transcripts)
    )
    # persist the deduped triples, not the encoded ones: the uid-predicate
    # collect (resolve, a global second pass) and the validation fan-out
    # (scalars / kept refs / node set) would otherwise each replay the
    # extraction->rewrite->explode map work and the dedup shuffle; the
    # downstream encode/filters are cheap column maps over the cache.
    # The uid-predicate collect IS the eager materialization action: it
    # computes every partition into the cache (AQE would otherwise race
    # the downstream branches into independent recomputes — observed 6x)
    # while returning the resolve input, one job instead of two.
    deduped = tr.dedup_first_occurrence(raw).persist()
    resolved = tr.apply_uid_resolution(
        deduped, tr.collect_uid_predicates(deduped)
    )
    return val.split_broken_refs(tr.encode_final(resolved))


def run_stage(root: str, stage: str, cfg: PipelineConfig, build) -> bool:
    """Whole-stage resume for the global stages (canonical / triples /
    materialize): canonicalization and the first-occurrence dedup are
    corpus-global aggregations, so there is no per-bucket unit below the
    stage (the reference's resume has the same shape: per-chunk for
    extraction, whole-artifact for the restored entity store,
    orchestrator.py:484-536).  ``build()`` writes the stage's tables;
    it runs unless this config's manifest says they are current.
    Returns whether it ran."""
    manifest = read_stage_marker(root, stage)
    if manifest is not None and manifest["config_hash"] == cfg.config_hash:
        return False
    write_stage_marker(root, stage, None)
    build()
    write_stage_marker(root, stage, {"config_hash": cfg.config_hash})
    return True


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Full pipeline; returns the metrics rollup (A7).

    Resume covers EVERY stage (J8/S10, orchestrator.py:484-536,589-597):
    mentions per conversation-bucket (run_mentions_stage), then one
    whole-stage manifest per global stage (run_stage) — ``canonical``
    (canonicalized mentions + canonical map tables), ``triples`` (kept
    triples + broken-ref report), ``materialize`` (graph/validation/
    report artifacts).  A re-run after a kill skips each stage whose
    manifest names this config hash and reads its stored output instead
    of recomputing; outputs are overwrite-idempotent either way.  The
    rollup's ``skipped_stages`` names the stages resume skipped, and
    ``triples_per_sec`` is None when the triples stage was one of them.
    """
    cfg = cfg or PipelineConfig()
    store = TableStore(spark, out_dir)
    t0 = time.time()

    mentions, ran = run_mentions_stage(spark, transcripts, store, cfg)
    skipped = [] if ran else ["mentions"]

    def canonical_stage():
        canonical, cmap = canonicalize_mentions(
            mentions, alias_dict, cfg.confidence_threshold
        )
        store.write(canonical, "canonical_mentions")
        store.write(cmap, "canonical_map")

    if not run_stage(store.root, "canonical", cfg, canonical_stage):
        skipped.append("canonical")
    canonical = store.read("canonical_mentions")
    cmap = store.read("canonical_map")

    def triples_stage():
        kept, broken = triples_chain(canonical, transcripts)
        store.write(kept, "triples", partition_by=["pred"])
        store.write(broken, "broken_refs")

    if not run_stage(store.root, "triples", cfg, triples_stage):
        skipped.append("triples")
    kept = store.read("triples")
    broken = store.read("broken_refs")

    def materialize_stage():
        orphans = val.find_orphans(kept)
        rec_errors = val.record_errors(canonical)
        errors = broken.unionByName(orphans).unionByName(rec_errors)
        store.write(errors, "validation_errors")
        store.write(val.validation_summary(errors), "validation_summary")
        store.write(val.review_flags(canonical), "review_flags")
        store.write(low_confidence_log(transcripts), "low_confidence_log")
        store.write(build_nodes(kept), "graph_nodes", partition_by=["type"])
        store.write(build_edges(kept), "graph_edges", partition_by=["pred"])
        manifest = infer_schema_manifest(kept)
        write_schema_artifacts(
            manifest, infer_type_predicates(kept), out_dir
        )

    if not run_stage(store.root, "materialize", cfg, materialize_stage):
        skipped.append("materialize")

    errors = store.read("validation_errors")
    dur = time.time() - t0
    n_triples = kept.count()
    metrics = {
        "turns": transcripts.count(),
        "conversations": transcripts.select("conv_id").distinct().count(),
        "mentions": mentions.count(),
        "merged_entities": cmap.count(),
        "entities": val.node_urns(kept).count(),
        "edges": store.read("graph_edges").count(),
        "triples": n_triples,
        "broken_refs": broken.count(),
        "orphans": errors.filter(F.col("message").startswith("orphan")).count(),
        "review_flags": store.read("review_flags").count(),
        "low_confidence_logged": store.read("low_confidence_log").count(),
        "validation_errors": errors.count(),
        "duration_secs": round(dur, 3),
        # no throughput from a run that emitted no triples itself
        "triples_per_sec": (
            round(n_triples / dur, 1)
            if dur > 0 and "triples" not in skipped
            else None
        ),
        "skipped_stages": skipped,
        "config_hash": cfg.config_hash,
    }
    write_metrics(out_dir, metrics)
    # S11/S12 report formats (metrics CSV/MD, validation MD/text).  The
    # error table is vocabulary-sized (distinct invalid URNs / types;
    # broken refs are empty by construction here) — cap the collect so an
    # adversarial input can't flood the driver; the report renders counts
    # + first-N samples, matching the reference's truncation.
    ebt = {
        r["type"]: r["n"]
        for r in store.read("graph_nodes")
        .groupBy("type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    save_metrics_reports(out_dir, metrics, ebt)
    save_validation_reports(
        out_dir, errors.limit(100_000).toPandas()[ERROR_COLS]
    )
    return metrics
