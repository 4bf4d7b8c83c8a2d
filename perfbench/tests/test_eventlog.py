"""The event-log fold on a small canned log (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")
LAYERS = ("extraction", "triples", "pipeline", "graph")


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold_file(FIXTURE, "trace:", "/data/in/transcripts.parquet", LAYERS)


def test_jobs_follow_the_traced_job_groups(folded):
    assert {L: v["jobs"] for L, v in folded.items()} == {
        "extraction": 1,
        "triples": 1,
        "pipeline": 1,
        "graph": 0,
    }


def test_task_metrics_sum_per_layer(folded):
    ex = folded["extraction"]
    assert ex["executor_s"] == pytest.approx(0.9)
    assert ex["input_mb"] == pytest.approx(4.0)
    assert ex["shuffle_write_mb"] == pytest.approx(1.0)
    assert ex["spill_mb"] == pytest.approx(2.0)
    # job group run:1 (an untraced run) is not in any layer
    assert sum(v["executor_s"] for v in folded.values()) == pytest.approx(1.0)


def test_skipped_stage_stays_with_the_job_that_ran_it(folded):
    # job 2 lists stage 1 again (skipped); its tasks belong to triples
    assert folded["triples"]["shuffle_write_mb"] == pytest.approx(3.0)
    assert folded["triples"]["executor_s"] == pytest.approx(0.09)
    assert folded["pipeline"]["executor_s"] == pytest.approx(0.01)


def test_task_skew_is_max_over_median_of_heaviest_stage(folded):
    assert folded["extraction"]["task_skew"] == pytest.approx(3.0)
    assert folded["triples"]["task_skew"] == pytest.approx(1.0)
    assert folded["graph"]["task_skew"] == 0.0


def test_python_worker_metrics_come_from_stage_accumulables(folded):
    ex = folded["extraction"]
    assert ex["python_s"] == pytest.approx(0.75)
    assert ex["arrow_in_mb"] == pytest.approx(4.0)
    assert ex["arrow_out_mb"] == pytest.approx(1.0)


def test_corpus_scans_match_the_transcripts_location_only(folded):
    assert {L: v["corpus_scans"] for L, v in folded.items()} == {
        "extraction": 1,
        "triples": 0,
        "pipeline": 0,
        "graph": 0,
    }
