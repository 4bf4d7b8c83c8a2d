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

Bookkeeping launches no job: the run counts are ``Observation``s on the
write jobs that already run (``write_counted``) and land in the stage's
manifest, so a skipped stage reports its stored counts; every table is
read back with the schema its manifest stores, so no read infers one.

Shuffle budget (design-for-100TB): the extraction stage is shuffle-free;
canonicalization shuffles only entity-vocabulary-sized frames; the one
corpus-sized shuffle is the dedup groupBy on (subj,pred,obj) — map-side
combinable, AQE-coalesced, and skew-tolerant because hot entities shard
across (pred,obj) combinations.
"""

from __future__ import annotations

import time
from collections import Counter

import pandas as pd

from pyspark.sql import Column, DataFrame, Observation, SparkSession
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
    read_back_schema,
    write_schema_artifacts,
)
from kartograph_spark.lineage import (
    completed_partitions,
    is_current,
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


#: the tables each stage writes; its manifest stores their read-back schemas
STAGE_TABLES = {
    "mentions": ("mentions",),
    "canonical": ("canonical_mentions", "canonical_map"),
    "triples": ("triples", "broken_refs"),
    "materialize": (
        "validation_errors",
        "validation_summary",
        "review_flags",
        "low_confidence_log",
        "graph_nodes",
        "graph_edges",
    ),
}

#: the run counts of the metrics rollup, in ``metrics.json`` order
ROLLUP_COUNTS = (
    "turns",
    "conversations",
    "mentions",
    "merged_entities",
    "entities",
    "edges",
    "triples",
    "broken_refs",
    "orphans",
    "review_flags",
    "low_confidence_logged",
    "validation_errors",
)

#: how long an Observation may trail its action: Spark completes it from
#: the listener bus, milliseconds after the action returns
OBSERVATION_WAIT_S = 60.0


def observed(obs: Observation) -> dict:
    """``obs``'s metrics, taken right after the action that ran its plan.

    ``Observation.get`` blocks until the metrics arrive, so a plan whose
    action never ran the observed node would hang the run; wait a bounded
    time for them instead and fail loudly."""
    done = obs._jo.future().isCompleted  # noqa: SLF001
    deadline = time.monotonic() + OBSERVATION_WAIT_S
    while not done():
        if time.monotonic() > deadline:
            raise RuntimeError("observed metrics did not arrive after their action")
        time.sleep(0.005)
    return obs.get


def write_counted(
    store: TableStore,
    df: DataFrame,
    name: str,
    partition_by: list[str] | None = None,
    **metrics: Column,
) -> dict:
    """Write table ``name`` and return ``metrics`` (aggregate columns by
    name) observed on the write job itself: counts without a count job."""
    obs = Observation()
    df = df.observe(obs, *(c.alias(k) for k, c in metrics.items()))
    store.write(df, name, partition_by)
    return observed(obs)


def rows() -> Column:
    return F.count(F.lit(1))


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
        got = observed(obs)
        counts = {b: int(got[f"b{b}"]) for b in pending}
        schema = read_back_schema(mentions.schema, ["bucket"])
        record_completed(
            store.root, "mentions", cfg.config_hash, counts, {"mentions": schema}
        )
    store.schemas.update(read_stage_marker(store.root, "mentions")["schemas"])
    return store.read("mentions").drop("bucket"), bool(pending)


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
    kept, broken, _corpus = triples_chain(canonical, transcripts)
    return kept, broken


def triples_chain(
    canonical: DataFrame, transcripts: DataFrame
) -> tuple[DataFrame, DataFrame, dict]:
    """Canonical mentions -> (kept_triples, broken_ref_report, corpus):
    emission, first-occurrence dedup, uid>scalar resolution, encode,
    broken-ref split.  ``corpus`` holds the whole-corpus ``turns`` and
    ``conversations`` counts, observed on the conversation aggregate.
    The one copy of the chain, shared by build_triples and the
    run_pipeline triples stage."""
    # unnamed: a fresh name per call, so the persisted plan below never
    # matches an earlier call's cache, whose node would not report here
    corpus = Observation()
    raw = tr.mention_triples(canonical).unionByName(
        tr.conversation_triples(transcripts, corpus)
    )
    # persist the deduped triples, not the encoded ones: the uid-predicate
    # collect (resolve, a global second pass) and the validation fan-out
    # (scalars / kept refs / node set) would otherwise each replay the
    # extraction->rewrite->explode map work and the dedup shuffle; the
    # downstream encode/filters are cheap column maps over the cache.
    # The uid-predicate collect IS the eager materialization action: it
    # computes every partition into the cache (AQE would otherwise race
    # the downstream branches into independent recomputes — observed 6x)
    # while returning the resolve input, one job instead of two — and it
    # runs the conversation aggregate, so the corpus counts arrive with it.
    deduped = tr.dedup_first_occurrence(raw).persist()
    uid_preds = tr.collect_uid_predicates(deduped)
    corpus_counts = observed(corpus)
    resolved = tr.apply_uid_resolution(deduped, uid_preds)
    kept, broken = val.split_broken_refs(tr.encode_final(resolved))
    return kept, broken, corpus_counts


def run_stage(
    store: TableStore, stage: str, cfg: PipelineConfig, build
) -> tuple[dict, bool]:
    """Whole-stage resume for the global stages (canonical / triples /
    materialize): canonicalization and the first-occurrence dedup are
    corpus-global aggregations, so there is no per-bucket unit below the
    stage (the reference's resume has the same shape: per-chunk for
    extraction, whole-artifact for the restored entity store,
    orchestrator.py:484-536).  ``build()`` writes the stage's tables and
    returns what its write jobs observed (``{"counts": ...}``, plus the
    ``ebt`` histogram for materialize); it runs unless this config's
    manifest says the tables are current.  Either way the store knows the
    stage's table schemas afterwards.  Returns the stage's manifest and
    whether it ran."""
    manifest = read_stage_marker(store.root, stage)
    if is_current(manifest, cfg.config_hash):
        store.schemas.update(manifest["schemas"])
        return manifest, False
    write_stage_marker(store.root, stage, None)
    manifest = {
        "config_hash": cfg.config_hash,
        **build(),
        "schemas": {t: store.schemas[t] for t in STAGE_TABLES[stage]},
    }
    write_stage_marker(store.root, stage, manifest)
    return manifest, True


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

    The rollup adds up the counts the stage manifests hold, as the
    reference's rollup adds up counters the run already holds
    (orchestrator.py:1003-1017): a resumed run reports the counts of its
    stored output and launches no job for them.
    """
    cfg = cfg or PipelineConfig()
    store = TableStore(spark, out_dir)
    t0 = time.time()

    mentions, ran = run_mentions_stage(spark, transcripts, store, cfg)
    skipped = [] if ran else ["mentions"]
    n_mentions = sum(read_stage_marker(store.root, "mentions")["rows"].values())

    def canonical_stage():
        canonical, cmap = canonicalize_mentions(
            mentions, alias_dict, cfg.confidence_threshold
        )
        store.write(canonical, "canonical_mentions")
        return {
            "counts": write_counted(
                store, cmap, "canonical_map", merged_entities=rows()
            )
        }

    canon, ran = run_stage(store, "canonical", cfg, canonical_stage)
    if not ran:
        skipped.append("canonical")
    canonical = store.read("canonical_mentions")

    def triples_stage():
        kept, broken, corpus = triples_chain(canonical, transcripts)
        return {
            "counts": {
                **corpus,
                **write_counted(store, kept, "triples", ["pred"], triples=rows()),
                **write_counted(store, broken, "broken_refs", broken_refs=rows()),
            }
        }

    trip, ran = run_stage(store, "triples", cfg, triples_stage)
    if not ran:
        skipped.append("triples")
    kept = store.read("triples")
    broken = store.read("broken_refs")

    def materialize_stage():
        orphans = val.find_orphans(kept)
        rec_errors = val.record_errors(canonical)
        errors = broken.unionByName(orphans).unionByName(rec_errors)
        counts = write_counted(
            store,
            errors,
            "validation_errors",
            validation_errors=rows(),
            orphans=F.count_if(F.col("message").startswith("orphan")),
        )
        store.write(val.validation_summary(errors), "validation_summary")
        counts |= write_counted(
            store, val.review_flags(canonical), "review_flags", review_flags=rows()
        )
        counts |= write_counted(
            store,
            low_confidence_log(transcripts),
            "low_confidence_log",
            low_confidence_logged=rows(),
        )
        # the entities-by-type histogram rides the node write too: its
        # type list is entity-vocabulary-sized, as the node table is
        nodes = write_counted(
            store,
            build_nodes(kept),
            "graph_nodes",
            ["type"],
            entities=rows(),
            types=F.collect_list("type"),
        )
        counts["entities"] = nodes["entities"]
        counts |= write_counted(
            store, build_edges(kept), "graph_edges", ["pred"], edges=rows()
        )
        manifest = infer_schema_manifest(kept)
        write_schema_artifacts(
            manifest, infer_type_predicates(kept), out_dir
        )
        return {"counts": counts, "ebt": dict(Counter(nodes["types"]))}

    mat, ran = run_stage(store, "materialize", cfg, materialize_stage)
    if not ran:
        skipped.append("materialize")

    dur = time.time() - t0
    counts = {
        "mentions": n_mentions,
        **canon["counts"],
        **trip["counts"],
        **mat["counts"],
    }
    n_triples = counts["triples"]
    metrics = {k: counts[k] for k in ROLLUP_COUNTS} | {
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
    # + first-N samples, matching the reference's truncation.  With no
    # errors stored there is nothing to collect.
    save_metrics_reports(out_dir, metrics, mat["ebt"])
    errors = (
        store.read("validation_errors").limit(100_000).toPandas()[ERROR_COLS]
        if metrics["validation_errors"]
        else pd.DataFrame(columns=ERROR_COLS)
    )
    save_validation_reports(out_dir, errors)
    return metrics
