"""Traced run from outside the package: spans plus per-layer job groups.

``instrument(tracer)`` swaps names in the ``kartograph_spark.pipeline``
namespace for wrappers and restores them on exit.  Each wrapper records a
span (name, layer, start, end, parent) and runs its call under the Spark
job group ``<prefix><layer>``, so the event log attributes every job to
the innermost layer that launched it.  Jobs launched outside any wrapper
(orchestration and the metrics rollup counts) fall to ``pipeline``.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass

from kartograph_spark import pipeline

LAYERS = (
    "extraction",
    "canonical",
    "triples",
    "validation",
    "graph",
    "lineage",
    "reports",
    "pipeline",
)

#: TableStore.write table name -> layer that owns the write job
TABLE_LAYER = {
    "canonical_mentions": "canonical",
    "canonical_map": "canonical",
    "triples": "triples",
    "broken_refs": "triples",
    "validation_errors": "validation",
    "validation_summary": "validation",
    "review_flags": "validation",
    "low_confidence_log": "extraction",
    "graph_nodes": "graph",
    "graph_edges": "graph",
}

#: pipeline-namespace function name -> layer
FUNC_LAYER = {
    "run_mentions_stage": "extraction",
    "canonicalize_mentions": "canonical",
    "completed_partitions": "lineage",
    "read_stage_marker": "lineage",
    "record_completed": "lineage",
    "write_stage_marker": "lineage",
    "write_metrics": "lineage",
    "infer_schema_manifest": "graph",
    "infer_type_predicates": "graph",
    "write_schema_artifacts": "graph",
    "save_metrics_reports": "reports",
    "save_validation_reports": "reports",
}

#: pipeline-namespace module alias -> layer of all its functions
MODULE_LAYER = {"tr": "triples", "val": "validation"}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """Spans kept in memory; job group follows the innermost open span."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group(self, layer: str) -> str:
        return self.prefix + layer

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, time.perf_counter(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group(layer), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1].layer), self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def self_seconds(self) -> dict[str, float]:
        """Per-layer self time: span durations minus their child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            out[s.layer] += (s.end - s.start) - child[s.id]
        return out


class _TracedModule:
    """Stand-in for a module alias (``tr``/``val``) whose callables trace."""

    def __init__(self, tracer: Tracer, mod, alias: str, layer: str):
        self._tracer, self._mod, self._alias, self._layer = tracer, mod, alias, layer

    def __getattr__(self, name):
        v = getattr(self._mod, name)
        if callable(v):
            return self._tracer.wrap(v, f"{self._alias}.{name}", self._layer)
        return v


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Patch the pipeline namespace for the duration of the block."""
    base_store = pipeline.TableStore

    class TracedTableStore(base_store):
        def write(self, df, name, partition_by=None):
            with tracer.span(f"TableStore.write:{name}", TABLE_LAYER.get(name, "pipeline")):
                return super().write(df, name, partition_by)

    saved = {n: getattr(pipeline, n) for n in (*FUNC_LAYER, *MODULE_LAYER, "TableStore")}
    try:
        for n, layer in FUNC_LAYER.items():
            setattr(pipeline, n, tracer.wrap(saved[n], n, layer))
        for n, layer in MODULE_LAYER.items():
            setattr(pipeline, n, _TracedModule(tracer, saved[n], n, layer))
        pipeline.TableStore = TracedTableStore
        yield tracer
    finally:
        for n, v in saved.items():
            setattr(pipeline, n, v)


def traced_run(tracer: Tracer, *args, **kwargs) -> dict:
    """One ``run_pipeline`` call with every wrapper in place."""
    with instrument(tracer), tracer.span("run_pipeline", "pipeline"):
        return pipeline.run_pipeline(*args, **kwargs)
