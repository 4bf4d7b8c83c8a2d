"""Checkpoint resume (FIXTURES F4 resume case): kill mid-stage, re-run,
identical output; completed partitions skipped via the per-stage resume
manifests (orchestrator.py:484-536, 589-597 semantics).  Which work re-ran
is read off the table files: Spark names every written part file
uniquely, so a table (or bucket partition) that was not rewritten keeps
its exact file set."""

import glob
import json
import os
import shutil
import tempfile

import pandas as pd
import pytest

from kartograph_spark import pipeline, rules
from kartograph_spark.config import PipelineConfig
from kartograph_spark.extraction import mentions
from kartograph_spark.graph import TableStore
from kartograph_spark.lineage import (
    completed_partitions,
    read_stage_marker,
    write_stage_marker,
)
from kartograph_spark.pipeline import run_mentions_stage, run_pipeline

STAGES = ("mentions", "canonical", "triples", "materialize")


def _mentions_pdf(spark, out):
    return (
        spark.read.parquet(f"{out}/mentions")
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "kind_rank", "match_idx"])
        .reset_index(drop=True)
        .drop(columns=["bucket"], errors="ignore")
    )


def _triples_pdf(spark, out):
    return (
        spark.read.parquet(f"{out}/triples")
        .toPandas()
        .sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
        .astype({"turn_idx": "int64"})
    )


def _files(out, table):
    """Relative paths of a table's parquet part files."""
    d = os.path.join(out, table)
    return {
        os.path.relpath(p, d)
        for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    }


def _bucket_files(out):
    by_bucket: dict[int, set[str]] = {}
    for f in _files(out, "mentions"):
        part, name = f.split(os.sep, 1)
        by_bucket.setdefault(int(part.removeprefix("bucket=")), set()).add(name)
    return by_bucket


def _tables(out):
    return sorted(
        d
        for d in os.listdir(out)
        if glob.glob(os.path.join(out, d, "**", "*.parquet"), recursive=True)
    )


def _tiny_corpus(spark, texts):
    """Six two-turn conversations repeating ``texts``."""
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [f"c{i}" for i in range(6) for _ in (0, 1)],
                "turn_idx": pd.array([0, 1] * 6, dtype="int32"),
                "role": ["user", "assistant"] * 6,
                "text": list(texts) * 6,
                "tool": [None, "query_dgraph"] * 6,
                "ts": pd.to_datetime(["2026-01-01 00:00"] * 12).astype(
                    "datetime64[us]"
                ),
            }
        )
    )


TEXTS_A = (
    "Service <urn:Application:pay> uses Prometheus.",
    "It is running on AWS and calls Vault.",
)
TEXTS_B = (
    "Service <urn:Application:billing> uses Grafana.",
    "It is running on GCP and calls Kafka.",
)


def _empty_alias(spark):
    return spark.createDataFrame(
        [],
        "alias_norm string, canonical_urn string, entity_type string,"
        " canonical_name string",
    )


def test_resume_skips_completed_and_is_idempotent(spark, transcripts_df):
    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-resume-")
    store = TableStore(spark, out)

    run_mentions_stage(spark, transcripts_df, store, cfg)
    baseline = _mentions_pdf(spark, out)
    manifest = read_stage_marker(out, "mentions")
    assert manifest["config_hash"] == cfg.config_hash
    assert {int(b) for b in manifest["rows"]} == set(range(8))
    assert sum(manifest["rows"].values()) == len(baseline)
    files1 = _bucket_files(out)

    # simulate a mid-stage kill: the manifest has not recorded 3 buckets
    lost = {1, 4, 6}
    assert lost <= set(files1)
    survivors = {b: n for b, n in manifest["rows"].items() if int(b) not in lost}
    write_stage_marker(out, "mentions", {**manifest, "rows": survivors})
    assert completed_partitions(out, "mentions", cfg.config_hash) == (
        set(range(8)) - lost
    )

    # resume: only the lost buckets re-run; final output identical
    run_mentions_stage(spark, transcripts_df, store, cfg)
    resumed = _mentions_pdf(spark, out)
    pd.testing.assert_frame_equal(baseline, resumed)
    files2 = _bucket_files(out)
    assert set(files2) == set(files1)
    assert {b for b in files1 if files1[b] != files2[b]} == lost
    assert read_stage_marker(out, "mentions") == manifest


def test_config_hash_invalidation(spark, transcripts_df):
    cfg_a = PipelineConfig(n_buckets=8, salt_turns=1024)
    cfg_b = PipelineConfig(n_buckets=8, salt_turns=512)
    assert cfg_a.config_hash != cfg_b.config_hash
    out = tempfile.mkdtemp(prefix="kg-cfg-")
    store = TableStore(spark, out)
    run_mentions_stage(spark, transcripts_df, store, cfg_a)
    # a different config hash sees zero completed partitions
    assert completed_partitions(out, "mentions", cfg_b.config_hash) == set()
    assert completed_partitions(out, "mentions", cfg_a.config_hash) == set(
        range(8)
    )


def test_rule_edit_changes_config_hash(monkeypatch):
    """The config hash covers the rule text: editing one pattern (with
    no version to bump) gives a new hash, so resume recomputes."""
    before = PipelineConfig().config_hash
    assert mentions.rules_digest() == mentions.RULES_DIGEST
    monkeypatch.setattr(rules, "EMAIL_RE", rules.EMAIL_RE.replace("{2,}", "{3,}"))
    # the digest is computed once at import; recompute it as a new
    # process with the edited rule would
    monkeypatch.setattr(mentions, "RULES_DIGEST", mentions.rules_digest())
    assert PipelineConfig().config_hash != before


def test_full_pipeline_resume_mid_triples(spark, transcripts_df, alias_df):
    """Kill after the canonical stage (triples/materialize manifests
    lost, outputs wiped): the re-run leaves the mentions and canonical
    tables untouched — no extraction re-run — recomputes only the lost
    stages, and converges to the identical triple set."""
    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-full-resume-")
    m1 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    baseline = _triples_pdf(spark, out)
    for stage in STAGES:
        assert read_stage_marker(out, stage)["config_hash"] == cfg.config_hash

    # simulate the kill: drop the triples+materialize manifests and their
    # outputs; mentions + canonical survive
    for stage in ("triples", "materialize"):
        write_stage_marker(out, stage, None)
    for t in ("triples", "broken_refs", "graph_nodes", "graph_edges"):
        shutil.rmtree(os.path.join(out, t), ignore_errors=True)
    kept_tables = ("mentions", "canonical_mentions", "canonical_map")
    before = {t: _files(out, t) for t in kept_tables}

    m2 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    pd.testing.assert_frame_equal(baseline, _triples_pdf(spark, out))
    # the completed stages were NOT re-run; the lost ones were re-recorded
    assert {t: _files(out, t) for t in kept_tables} == before
    for stage in ("triples", "materialize"):
        assert read_stage_marker(out, stage)["config_hash"] == cfg.config_hash
    assert m2["triples"] == m1["triples"]
    assert m2["review_flags"] == m1["review_flags"]


def test_canonical_manifest_without_uid_preds_rebuilds(
    spark, transcripts_df, alias_df
):
    """A canonical manifest of the layout before ``uid_preds`` vouches for
    nothing: resuming with the triples stage lost re-runs the canonical
    stage once (no KeyError), and the triples equal the fresh build's."""
    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-uid-preds-")
    run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    baseline = _triples_pdf(spark, out)
    manifest = read_stage_marker(out, "canonical")
    uid_preds = manifest.pop("uid_preds")
    assert uid_preds
    write_stage_marker(out, "canonical", manifest)
    write_stage_marker(out, "triples", None)

    m2 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    assert m2["skipped_stages"] == ["mentions", "materialize"]
    assert read_stage_marker(out, "canonical")["uid_preds"] == uid_preds
    pd.testing.assert_frame_equal(baseline, _triples_pdf(spark, out))
    m3 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    assert m3["skipped_stages"] == list(STAGES)


def test_full_pipeline_rerun_skips_everything(spark, transcripts_df, alias_df):
    """A clean re-run against a completed out dir writes no table and no
    manifest — only the metrics rollup — and reports identical counts."""
    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-rerun-")
    m1 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    tables = _tables(out)
    files1 = {t: _files(out, t) for t in tables}
    manifests1 = {s: read_stage_marker(out, s) for s in STAGES}
    m2 = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    assert _tables(out) == tables
    assert {t: _files(out, t) for t in tables} == files1
    assert {s: read_stage_marker(out, s) for s in STAGES} == manifests1
    assert not os.path.exists(os.path.join(out, "lineage"))
    for k in ("triples", "entities", "edges", "mentions", "review_flags"):
        assert m1[k] == m2[k], k
    # the rollup says what resume skipped, and a run that emitted no
    # triples reports no throughput
    assert m1["skipped_stages"] == []
    assert m2["skipped_stages"] == list(STAGES)
    assert m1["triples_per_sec"] is not None
    assert m2["triples_per_sec"] is None
    with open(os.path.join(out, "metrics.json")) as f:
        assert json.load(f)["skipped_stages"] == list(STAGES)


def test_config_round_trip_recomputes(spark):
    """run A, run B, run A again against ONE out dir: B overwrites the
    stage tables, so its manifests must NOT let A resume — every stage
    recomputes and A's second output equals A's first (incl. a bucket-
    count change, which also exercises the full-overwrite path that
    clears B's extra bucket partitions)."""
    tr = _tiny_corpus(spark, TEXTS_A)
    al = _empty_alias(spark)
    out = tempfile.mkdtemp(prefix="kg-roundtrip-")

    cfg_a = PipelineConfig(n_buckets=4, extra={"tag": "A"})
    cfg_b = PipelineConfig(n_buckets=8, extra={"tag": "B"})
    run_pipeline(spark, tr, al, out, cfg_a)
    a1 = _triples_pdf(spark, out)
    # B: different config writes the same tables (same corpus here — the
    # point is the gating, not the content delta)
    run_pipeline(spark, tr, al, out, cfg_b)
    for stage in STAGES:
        assert read_stage_marker(out, stage)["config_hash"] == cfg_b.config_hash
    # A again: the manifests say the tables belong to B -> every stage
    # must recompute, not resume
    m3 = run_pipeline(spark, tr, al, out, cfg_a)
    pd.testing.assert_frame_equal(a1, _triples_pdf(spark, out))
    assert m3["config_hash"] == cfg_a.config_hash
    # the mentions table must contain ONLY cfg_a's 4 buckets (full
    # overwrite cleared B's 8-bucket layout)
    assert set(_bucket_files(out)) <= set(range(4))


class Killed(RuntimeError):
    pass


def test_kill_before_manifest_write_never_serves_other_config(
    spark, monkeypatch
):
    """Run A; run B on another corpus and kill it after its triples table
    is written but before that stage's manifest lands; run A again: A
    must recompute, not serve B's (or partly written) tables."""
    al = _empty_alias(spark)
    out = tempfile.mkdtemp(prefix="kg-kill-")
    cfg_a = PipelineConfig(n_buckets=4, extra={"tag": "A"})
    cfg_b = PipelineConfig(n_buckets=4, extra={"tag": "B"})

    run_pipeline(spark, _tiny_corpus(spark, TEXTS_A), al, out, cfg_a)
    a1 = _triples_pdf(spark, out)

    real = pipeline.write_stage_marker

    def dies_at_triples_manifest(root, stage, manifest):
        if stage == "triples" and manifest is not None:
            raise Killed(stage)
        return real(root, stage, manifest)

    with monkeypatch.context() as m:
        m.setattr(pipeline, "write_stage_marker", dies_at_triples_manifest)
        with pytest.raises(Killed):
            run_pipeline(spark, _tiny_corpus(spark, TEXTS_B), al, out, cfg_b)
    # the killed run did replace A's triples table with B's
    assert not _triples_pdf(spark, out).equals(a1)

    run_pipeline(spark, _tiny_corpus(spark, TEXTS_A), al, out, cfg_a)
    pd.testing.assert_frame_equal(a1, _triples_pdf(spark, out))


def test_missing_manifest_forces_full_overwrite(spark, transcripts_df):
    """With no manifest nothing vouches for the mentions table's buckets:
    a run with fewer buckets must fully overwrite, leaving none of the
    old layout's extra bucket partitions."""
    out = tempfile.mkdtemp(prefix="kg-nomanifest-")
    store = TableStore(spark, out)
    run_mentions_stage(spark, transcripts_df, store, PipelineConfig(n_buckets=8))
    assert set(_bucket_files(out)) == set(range(8))
    for stage in STAGES:
        write_stage_marker(out, stage, None)

    run_mentions_stage(spark, transcripts_df, store, PipelineConfig(n_buckets=4))
    assert set(_bucket_files(out)) == set(range(4))


def _truncate(path):
    """Cut a parquet part file in half: its footer is gone, so any read
    of it fails."""
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)


def test_partial_parquet_is_rewritten_not_read(spark, transcripts_df, alias_df):
    """A kill can leave a stage's table half written: a truncated part
    file, a bucket with no files.  With the stage's manifest gone, the
    re-run overwrites the table instead of reading it — the truncated
    file disappears and the triples equal the first build's.  Checked for
    the per-bucket mentions table and for the global triples table."""
    cfg = PipelineConfig(n_buckets=8)
    out = tempfile.mkdtemp(prefix="kg-partial-")
    run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    baseline = _triples_pdf(spark, out)

    # mentions: one bucket's part file truncated, another bucket emptied
    by_bucket = _bucket_files(out)
    cut, gone = sorted(by_bucket)[:2]
    cut_file = os.path.join(out, "mentions", f"bucket={cut}", sorted(by_bucket[cut])[0])
    _truncate(cut_file)
    for name in by_bucket[gone]:
        os.remove(os.path.join(out, "mentions", f"bucket={gone}", name))
    write_stage_marker(out, "mentions", None)
    m = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    pd.testing.assert_frame_equal(baseline, _triples_pdf(spark, out))
    assert not os.path.exists(cut_file)
    assert set(_bucket_files(out)) == set(by_bucket)
    assert "mentions" not in m["skipped_stages"]

    # triples: one part file truncated
    cut_file = os.path.join(out, "triples", sorted(_files(out, "triples"))[0])
    _truncate(cut_file)
    write_stage_marker(out, "triples", None)
    m = run_pipeline(spark, transcripts_df, alias_df, out, cfg)
    pd.testing.assert_frame_equal(baseline, _triples_pdf(spark, out))
    assert not os.path.exists(cut_file)
    assert "triples" not in m["skipped_stages"]
