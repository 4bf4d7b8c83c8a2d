"""The metrics rollup costs no Spark job: run counts are observed on the
write jobs that already run and stored in the stage manifests, and every
table is read back with its stored schema (no schema-inference job).
Checks the job budget, that the counts equal direct recounts on a fresh
build and after resume, and that the stored schemas equal inference."""

import json
import os
import tempfile
from collections import Counter

import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from kartograph_spark import pipeline
from kartograph_spark.config import PipelineConfig
from kartograph_spark.graph import TableStore
from kartograph_spark.lineage import read_stage_marker
from kartograph_spark.pipeline import ROLLUP_COUNTS, STAGE_TABLES, run_pipeline
from kartograph_spark.reports import ERROR_COLS

CFG = PipelineConfig(n_buckets=8)


def _counts(metrics):
    return {k: metrics[k] for k in ROLLUP_COUNTS}


def _counted_run(spark, group, *args):
    """run_pipeline under its own job group; returns (metrics, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        metrics = run_pipeline(spark, *args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return metrics, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _job_stages(spark, job_ids):
    """One line per job: its id and its stages' names (the call sites),
    each with its number of stages."""
    st = spark.sparkContext.statusTracker()
    lines = []
    for j in job_ids:
        info = st.getJobInfo(j)
        stages = [st.getStageInfo(s) for s in info.stageIds] if info else []
        names = Counter(s.name for s in stages if s)
        lines.append(f"job {j}: " + "; ".join(f"{n} x{k}" for n, k in names.items()))
    return "\n".join(lines)


@pytest.fixture
def schemaless_reads(monkeypatch):
    """Paths read with ``spark.read.parquet`` and no schema given — each
    such read launches a schema-inference job."""
    seen = []
    schema, parquet = DataFrameReader.schema, DataFrameReader.parquet

    def with_schema(self, s):
        self._given_schema = True
        return schema(self, s)

    def read(self, *paths, **kw):
        if not getattr(self, "_given_schema", False):
            seen.extend(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "schema", with_schema)
    monkeypatch.setattr(DataFrameReader, "parquet", read)
    return seen


@pytest.fixture(scope="module")
def built(spark, transcripts_df, alias_df):
    """A fresh build of the e2e fixture, then a no-op re-run, each under
    its own job group."""
    out = tempfile.mkdtemp(prefix="kg-rollup-")
    fresh, fresh_jobs = _counted_run(
        spark, "rollup-fresh", transcripts_df, alias_df, out, CFG
    )
    noop, noop_jobs = _counted_run(
        spark, "rollup-noop", transcripts_df, alias_df, out, CFG
    )
    return out, fresh, fresh_jobs, noop, noop_jobs


def _stored_store(spark, out):
    store = TableStore(spark, out)
    for stage in STAGE_TABLES:
        store.schemas.update(read_stage_marker(out, stage)["schemas"])
    return store


#: jobs of a fresh build of the e2e fixture: a driver round trip that
#: comes back (a collect, an extra broadcast scan) shows up here
FRESH_BUILD_JOBS = 36


def test_job_budget(spark, transcripts_df, alias_df, built, schemaless_reads):
    """A fresh build reads no table without its schema (so launches no
    inference job) and runs its pinned number of jobs; a no-op re-run
    launches at most 3 jobs."""
    out = tempfile.mkdtemp(prefix="kg-budget-")
    run_pipeline(spark, transcripts_df, alias_df, out, CFG)
    assert not [p for p in schemaless_reads if p.startswith(out)]
    _, fresh, fresh_jobs, noop, noop_jobs = built
    assert noop["skipped_stages"] == list(STAGE_TABLES)
    assert len(noop_jobs) <= 3, _job_stages(spark, noop_jobs)
    assert len(fresh_jobs) == FRESH_BUILD_JOBS, (
        f"{len(fresh_jobs)} jobs:\n" + _job_stages(spark, fresh_jobs)
    )


def test_run_pipeline_leaves_no_cache(spark, transcripts_df, alias_df):
    """A build unpersists what it persisted: the session holds as many
    persisted RDDs after a ``run_pipeline`` call as before it."""

    def persisted():  # each getPersistentRDDs call returns a snapshot
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    out = tempfile.mkdtemp(prefix="kg-cache-")
    run_pipeline(spark, transcripts_df, alias_df, out, CFG)
    assert persisted() == before


def test_resume_reports_the_fresh_counts(
    spark, transcripts_df, alias_df, built, monkeypatch
):
    """Every count of a no-op resume, and of a resume after a kill in the
    middle of the triples stage, equals the fresh build's."""
    _, fresh, _, noop, _ = built
    assert _counts(noop) == _counts(fresh)

    out = tempfile.mkdtemp(prefix="kg-rollup-kill-")
    write = TableStore.write

    def dies_at_broken_refs(self, df, name, partition_by=None):
        if name == "broken_refs":
            raise RuntimeError("killed")
        return write(self, df, name, partition_by)

    with monkeypatch.context() as m:
        m.setattr(TableStore, "write", dies_at_broken_refs)
        with pytest.raises(RuntimeError, match="killed"):
            run_pipeline(spark, transcripts_df, alias_df, out, CFG)
    # the kill hit after the triples table, before the stage's manifest
    assert os.listdir(os.path.join(out, "triples"))
    assert read_stage_marker(out, "triples") is None
    resumed = run_pipeline(spark, transcripts_df, alias_df, out, CFG)
    assert resumed["skipped_stages"] == ["mentions", "canonical"]
    assert _counts(resumed) == _counts(fresh)
    with open(os.path.join(out, "metrics.json")) as f:
        stored = json.load(f)
    assert _counts(stored) == _counts(fresh)


def test_counts_match_tables(spark, transcripts_df, built):
    """Every count equals a direct recount of its table, and the stored
    entities-by-type histogram equals the node table's."""
    out, fresh, _, _, _ = built
    read = lambda t: spark.read.parquet(os.path.join(out, t))  # noqa: E731
    errors = read("validation_errors")
    recount = {
        "turns": transcripts_df.count(),
        "conversations": transcripts_df.select("conv_id").distinct().count(),
        "mentions": read("mentions").count(),
        "merged_entities": read("canonical_map").count(),
        "entities": read("graph_nodes").count(),
        "edges": read("graph_edges").count(),
        "triples": read("triples").count(),
        "broken_refs": read("broken_refs").count(),
        "orphans": errors.filter(F.col("message").startswith("orphan")).count(),
        "review_flags": read("review_flags").count(),
        "low_confidence_logged": read("low_confidence_log").count(),
        "validation_errors": errors.count(),
    }
    assert _counts(fresh) == recount
    assert all(recount[k] > 0 for k in ("turns", "mentions", "triples", "entities"))
    ebt = Counter(r["type"] for r in read("graph_nodes").select("type").collect())
    assert read_stage_marker(out, "materialize")["ebt"] == dict(ebt)


def test_planted_broken_ref_is_reported_and_excluded(
    spark, transcripts_df, alias_df, built, monkeypatch
):
    """A canonical mention whose URN has no type triple makes one broken
    reference: ``broken_refs`` holds exactly its edge, ``triples`` keeps
    its name triple but not the edge, and the rollup and the
    validation errors count it."""
    ghost = "urn:Ghost:nobody"
    values = {
        "urn": ghost,
        "conv_id": "conv-000001",
        "turn_idx": 0,
        "kind": "urn",
        "kind_rank": 0,
        "match_idx": 0,
        "ident": "nobody",
        "name": "Nobody",
        "pred": "mentions",
        "confidence": "HIGH",
    }
    canonicalize = pipeline.canonicalize_mentions

    def with_ghost(*args):
        canonical, cmap = canonicalize(*args)
        row = spark.range(1).select(
            *(
                F.lit(values.get(f.name)).cast(f.dataType).alias(f.name)
                for f in canonical.schema
            )
        )
        return canonical.unionByName(row), cmap

    monkeypatch.setattr(pipeline, "canonicalize_mentions", with_ghost)
    out = tempfile.mkdtemp(prefix="kg-broken-")
    m = run_pipeline(spark, transcripts_df, alias_df, out, CFG)
    fresh = built[1]
    read = lambda t: spark.read.parquet(os.path.join(out, t))  # noqa: E731
    edge = (
        "urn:Conversation:conv-000001",
        "mentions",
        ghost,
        "broken reference: target entity not defined",
        "error",
    )
    assert [tuple(r) for r in read("broken_refs").collect()] == [edge]
    ghost_triples = read("triples").filter(F.col("obj") == ghost).count()
    assert ghost_triples == 0
    assert read("triples").filter(F.col("subj") == ghost).count() == 1
    assert m["triples"] == fresh["triples"] + 1
    assert m["broken_refs"] == 1
    errors = read("validation_errors")
    broken = errors.filter(F.col("message").startswith("broken reference"))
    assert [tuple(r) for r in broken.select(*ERROR_COLS).collect()] == [edge]
    assert m["validation_errors"] == fresh["validation_errors"] + 1
    assert m["validation_errors"] == errors.count()


def test_stored_schemas_equal_inference(spark, built):
    """Reading any table with its stored schema gives what inference
    gives: same columns, same order (partition columns last), same types
    and nullability."""
    out = built[0]
    store = _stored_store(spark, out)
    tables = [t for ts in STAGE_TABLES.values() for t in ts]
    assert sorted(store.schemas) == sorted(tables)
    for t in tables:
        assert store.read(t).schema == spark.read.parquet(store.path(t)).schema, t


def test_empty_corpus_completes_with_zero_counts(spark):
    """No turns and an empty alias dictionary: the build completes (the
    mentions table holds no part file, so inference would have nothing to
    read), every count is 0, and a re-run reports the same zeros."""
    tr = spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    al = spark.createDataFrame(
        [],
        "alias_norm string, canonical_urn string, entity_type string,"
        " canonical_name string",
    )
    out = tempfile.mkdtemp(prefix="kg-empty-")
    for skipped in ([], list(STAGE_TABLES)):
        m = run_pipeline(spark, tr, al, out, PipelineConfig(n_buckets=4))
        assert m["skipped_stages"] == skipped
        with open(os.path.join(out, "metrics.json")) as f:
            stored = json.load(f)
        assert _counts(stored) == dict.fromkeys(ROLLUP_COUNTS, 0)
    assert _stored_store(spark, out).read("mentions").count() == 0


def test_observed_fails_instead_of_hanging(spark, monkeypatch):
    """An Observation whose plan never ran raises after the bounded wait
    rather than blocking ``Observation.get`` forever."""
    from pyspark.sql import Observation

    obs = Observation()
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n"))  # no action
    monkeypatch.setattr(pipeline, "OBSERVATION_WAIT_S", 0.05)
    with pytest.raises(RuntimeError, match="did not arrive"):
        pipeline.observed(obs)
