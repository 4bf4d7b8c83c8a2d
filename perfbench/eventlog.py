"""Fold a Spark event log (uncompressed JSON lines) into per-layer metrics.

Only the standard library is used.  A job's layer is its job group with
the tracer's prefix removed; jobs of other groups are ignored.  Task
metrics come from ``SparkListenerTaskEnd``, Python-worker and Arrow
figures from the SQL metrics in each stage's ``Accumulables``, and a job
counts as a corpus scan when one of its stages updated a metric of a
``Scan`` node whose location is the transcripts path.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

MB = 1e6

PY_RUN = "time to run Python workers"  # ms
PY_SENT = "data sent to Python workers"  # bytes
PY_RECV = "data returned from Python workers"  # bytes


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _scan_accums(plan: dict, path: str, out: set[int]) -> None:
    """Accumulator ids of the metrics of every scan node reading ``path``."""
    if plan.get("nodeName", "").startswith("Scan") and (
        path in plan.get("simpleString", "") or path in json.dumps(plan.get("metadata", {}))
    ):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []))
    for c in plan.get("children", []):
        _scan_accums(c, path, out)


class _Layer:
    def __init__(self):
        self.jobs = 0
        self.corpus_scans = 0
        self.executor_ms = 0.0
        self.input_b = 0.0
        self.shuffle_write_b = 0.0
        self.spill_b = 0.0
        self.python_ms = 0.0
        self.arrow_in_b = 0.0
        self.arrow_out_b = 0.0
        self.stage_tasks: dict[int, list[float]] = defaultdict(list)

    def skew(self) -> float:
        """max/median task run time of the layer's heaviest stage."""
        if not self.stage_tasks:
            return 0.0
        times = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def fold(lines, prefix: str, corpus_path: str, layers) -> dict[str, dict[str, float]]:
    """Per-layer ``{jobs, executor_s, input_mb, shuffle_write_mb, spill_mb,
    task_skew, python_s, arrow_in_mb, arrow_out_mb, corpus_scans}``."""
    out = {name: _Layer() for name in layers}
    stage_layer: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_layer: dict[int, str] = {}
    job_scans: set[int] = set()
    scan_ids: set[int] = set()
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            layer = group[len(prefix):] if group.startswith(prefix) else None
            if layer not in out:
                continue
            job_layer[e["Job ID"]] = layer
            out[layer].jobs += 1
            for sid in e.get("Stage IDs", []):
                # a stage runs in the first job that lists it; later jobs
                # that list it again skip it
                if sid not in stage_layer:
                    stage_layer[sid] = layer
                    stage_job[sid] = e["Job ID"]
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _scan_accums(e.get("sparkPlanInfo", {}), corpus_path, scan_ids)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if layer is None or not m:
                continue
            L = out[layer]
            run_ms = _num(m.get("Executor Run Time"))
            L.executor_ms += run_ms
            L.input_b += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
            L.shuffle_write_b += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            L.spill_b += _num(m.get("Disk Bytes Spilled"))
            L.stage_tasks[e["Stage ID"]].append(run_ms)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            layer = stage_layer.get(info["Stage ID"])
            if layer is None:
                continue
            L = out[layer]
            for a in info.get("Accumulables", []):
                name, val = a.get("Name"), _num(a.get("Value"))
                if name == PY_RUN:
                    L.python_ms += val
                elif name == PY_SENT:
                    L.arrow_in_b += val
                elif name == PY_RECV:
                    L.arrow_out_b += val
                if a.get("ID") in scan_ids:
                    job_scans.add(stage_job[info["Stage ID"]])
    for job in job_scans:
        out[job_layer[job]].corpus_scans += 1
    return {
        name: {
            "jobs": L.jobs,
            "executor_s": L.executor_ms / 1e3,
            "input_mb": L.input_b / MB,
            "shuffle_write_mb": L.shuffle_write_b / MB,
            "spill_mb": L.spill_b / MB,
            "task_skew": L.skew(),
            "python_s": L.python_ms / 1e3,
            "arrow_in_mb": L.arrow_in_b / MB,
            "arrow_out_mb": L.arrow_out_b / MB,
            "corpus_scans": L.corpus_scans,
        }
        for name, L in out.items()
    }


def fold_file(path: str, prefix: str, corpus_path: str, layers) -> dict[str, dict[str, float]]:
    with open(path) as f:
        return fold(f, prefix, corpus_path, layers)
