"""kartograph_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the capabilities of jsell-rh/kartograph
(reference read-only at /root/reference) as an idiomatic Spark pipeline
over tables of multi-turn conversation/agent transcripts
``(conv_id, turn_idx, role, text, tool, ts)``:

  scan -> stable (conv_id, turn_idx) window ordering
       -> JVM-native mention detection (regex + array expressions, no Python worker)
       -> (subj, pred, obj) triple emission
       -> entity linking (blocking keys + broadcast join vs alias dictionary)
       -> connected-components canonicalization of coreferent entities
       -> validation (broken refs / orphans, anti/semi joins)
       -> partitioned graph_nodes / graph_edges materialization
       -> per-stage resume manifests + metrics, idempotent resume.

Architecture is Spark-first (DataFrame/Catalyst/AQE); nothing is a port of
the reference's Python orchestration.  Semantics parity targets are cited
per-module as reference file:line.
"""

__version__ = "0.1.0"
