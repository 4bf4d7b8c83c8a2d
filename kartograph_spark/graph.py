"""Graph materialization + schema inference (M5; sinks S5/S6/S8).

Outputs:
- ``graph_nodes(urn, type, name, first_conv_id, first_turn_idx)``
  partitioned by ``type`` — node attrs follow FIRST-occurrence semantics
  under stable ordering (W1, urn_deduplicator.py:54-90 'first' strategy).
- ``graph_edges(subj, pred, obj, conv_id, turn_idx)`` partitioned by
  ``pred`` (the Iceberg-partitioning analog of Dgraph's per-predicate
  indexes, load_dgraph.py:229-265).
- schema manifest + per-type predicate lists — per-predicate resolved
  dtype with uid>string precedence (load_dgraph.py:86-206, 219-227).

One aggregate per output: the node table is one ``groupBy(subj)``, and
both schema artifacts are driver functions of one collected summary.

Table format: partitioned parquet (TableStore below).  A table is read
back with the schema recorded at its write, so a read launches no
schema-inference job (and an empty table, which has no footer to infer
from, reads as zero rows).
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kartograph_spark import rules


def _as_nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def read_back_schema(
    schema: T.StructType, partition_by: list[str] | None = None
) -> dict:
    """JSON of the schema ``spark.read.parquet`` infers for a table written
    from ``schema``: every field nullable (parquet writes store them so),
    partition columns last in ``partition_by`` order.  A partition column
    keeps its written type, which is what inference reads off the
    directory names of this pipeline's tables (int buckets, string
    preds/types); unlike inference, it stays a string even when every
    value happens to look like a number."""
    parts = list(partition_by or ())
    fields = [f for f in schema if f.name not in parts]
    fields += [T.StructField(p, schema[p].dataType) for p in parts]
    return _as_nullable(T.StructType(fields)).jsonValue()


class TableStore:
    """Named tables under ``root``: each write is a partitioned parquet
    overwrite, each read uses the schema stored at the write.

    ``schemas`` holds the read-back schema of every table this store wrote
    or was told about (``pipeline.run_stage`` loads a skipped stage's from
    its resume manifest); ``read`` passes it to the reader, so reading a
    table launches no schema-inference job.  There is no inference
    fallback: reading a table the store has no schema for is a KeyError.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.schemas: dict[str, dict] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None):
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))
        self.schemas[name] = read_back_schema(df.schema, partition_by)

    def read(self, name: str) -> DataFrame:
        schema = T.StructType.fromJson(self.schemas[name])
        return self.spark.read.schema(schema).parquet(self.path(name))


def build_nodes(triples: DataFrame, strategy: str = "first") -> DataFrame:
    """Node table from dgraph.type / name / description triples.

    ``strategy`` mirrors the reference's urn_merge_strategy
    (urn_deduplicator.py:80-90): 'first' keeps the earliest record's
    attributes under stable (conv_id, turn_idx) order, 'last' the
    latest.  (The 'merge_predicates' strategy is the triple table itself
    — union of distinct (pred, obj) per subject, operator A2.)

    One map-side-combinable ``groupBy(subj)``: each attribute is a pick
    over a struct that is NULL on the other predicates' rows, and
    ``min``/``max`` skip NULLs.  A subject without a type triple is not a
    node (a name or description alone defines none).
    """
    if strategy not in ("first", "last"):
        raise ValueError(f"unknown dedup strategy: {strategy}")
    pick = F.min if strategy == "first" else F.max

    def attr(pred: str, name: str, agg=pick):
        return agg(
            F.when(
                F.col("pred") == pred,
                F.struct("conv_id", "turn_idx", F.col("obj").alias(name)),
            )
        )

    return (
        triples.filter(
            F.col("pred").isin(rules.DGRAPH_TYPE_PRED, "name", "description")
        )
        .groupBy(F.col("subj").alias("urn"))
        .agg(
            attr(rules.DGRAPH_TYPE_PRED, "type").alias("t"),
            attr("name", "name").alias("n"),
            # description: "use non-None description if available" scanning
            # records in order (urn_deduplicator.py:124-127) == the LAST
            # non-None one.  None descriptions never become triples, so max
            # in stable order is exactly that merge, whatever the strategy.
            attr("description", "description", F.max).alias("d"),
        )
        .filter(F.col("t").isNotNull())
        .select(
            "urn",
            F.col("t.type").alias("type"),
            F.col("n.name").alias("name"),
            F.col("d.description").alias("description"),
            F.col("t.conv_id").alias("first_conv_id"),
            F.col("t.turn_idx").alias("first_turn_idx"),
        )
    )


def build_edges(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("obj_is_ref")).select(
        "subj", "pred", "obj", "conv_id", "turn_idx"
    )


#: predicates the reference indexes for fast queries (load_dgraph.py:232)
INDEXED_PREDICATES = {"name", "url", "email", "id", "path", "namespace"}


def _index_tokens(predicate: str, resolved: str) -> list[str]:
    """Dgraph index selection (load_dgraph.py:229-265): uid predicates get
    @reverse instead of @index; among INDEXED_PREDICATES, ``name`` gets
    (exact, term, fulltext, trigram) — trigram is required for regexp()
    matching — other strings (exact, term, trigram), and int/bool/float
    their own-type index; everything else is unindexed."""
    if resolved == "uid" or predicate not in INDEXED_PREDICATES:
        return []
    if resolved == "string":
        if predicate == "name":
            return ["exact", "term", "fulltext", "trigram"]
        return ["exact", "term", "trigram"]
    if resolved in ("int", "bool", "float"):
        return [resolved]
    return []


def schema_summary(triples: DataFrame) -> list[Row]:
    """The one collect behind both schema artifacts: triple ``count`` per
    (``pred``, ``dtype``, ``types``), ``types`` being the sorted type array
    of the triple's subject (NULL if untyped); vocabulary-sized rows.
    Grouping by the whole type array, not by each type, keeps both
    artifacts exact for a subject with several dgraph.type triples: each
    triple counts once for the manifest, and its predicate is listed
    under every one of the subject's types."""
    types = (
        triples.filter(F.col("pred") == rules.DGRAPH_TYPE_PRED)
        .groupBy("subj")
        .agg(F.sort_array(F.collect_set("obj")).alias("types"))
    )
    return (
        triples.join(types, "subj", "left")
        .groupBy("pred", "dtype", "types")
        .count()
        .collect()
    )


def infer_schema_manifest(summary: list[Row]) -> list[dict]:
    """Per-predicate dtype resolution (load_dgraph.py:86-206) from
    ``schema_summary`` rows: any uid observation -> uid; mixed scalars ->
    string; else the single observed scalar type.  Also records
    per-predicate triple counts and the reference's index selection
    (load_dgraph.py:229-265)."""
    observed: dict[str, set[str]] = defaultdict(set)
    counts: Counter[str] = Counter()
    for r in summary:
        observed[r["pred"]].add(r["dtype"])
        counts[r["pred"]] += r["count"]
    out = []
    for pred in sorted(counts):
        types = sorted(observed[pred])
        if "uid" in types:
            resolved = "uid"
        elif len(types) == 1:
            resolved = types[0]
        else:
            resolved = "string"
        out.append(
            {
                "predicate": pred,
                "observed_types": types,
                "resolved_type": resolved,
                "count": counts[pred],
                "reverse": resolved == "uid",  # @reverse on uid preds (load_dgraph.py:244)
                "index": _index_tokens(pred, resolved),
            }
        )
    return out


def infer_type_predicates(summary: list[Row]) -> list[dict]:
    """Sparse per-entity-type predicate lists (load_dgraph.py:114-118,
    219-227) from ``schema_summary`` rows: for each entity type, the
    sorted set of predicates observed on subjects of that type — the
    reference's ``type X { pred... }`` blocks.  ``dgraph.type`` itself is
    excluded, mirroring the reference skipping the @type key in its
    per-entity predicate loop; untyped subjects list nowhere."""
    preds: dict[str, set[str]] = defaultdict(set)
    for r in summary:
        if r["pred"] != rules.DGRAPH_TYPE_PRED:
            for t in r["types"] or ():
                preds[t].add(r["pred"])
    return [{"type": t, "predicates": sorted(preds[t])} for t in sorted(preds)]


def generate_schema_text(manifest: list[dict], type_predicates: list[dict]) -> str:
    """Dgraph-style schema file from the manifest — line-for-line the
    reference's generate_schema (load_dgraph.py:209-265): sparse type
    blocks first, a blank separator, the hardcoded indexed ``type``
    predicate, then sorted predicate definitions (uid -> ``[uid]
    @reverse``, indexed scalars -> ``@index(...)``)."""
    lines: list[str] = []
    for tp in sorted(type_predicates, key=lambda t: t["type"]):
        lines.append(f"type {tp['type']} {{")
        lines.extend(f"  {p}" for p in sorted(tp["predicates"]))
        lines.append("}")
    lines.append("")
    lines.append("type: string @index(exact, term) .")
    for m in sorted(manifest, key=lambda m: m["predicate"]):
        pred, resolved = m["predicate"], m["resolved_type"]
        if pred in ("type", rules.DGRAPH_TYPE_PRED):
            continue
        if resolved == "uid":
            lines.append(f"{pred}: [uid] @reverse .")
        elif m.get("index"):
            lines.append(f"{pred}: {resolved} @index({', '.join(m['index'])}) .")
        else:
            lines.append(f"{pred}: {resolved} .")
    return "\n".join(lines)


def write_schema_artifacts(
    manifest: list[dict], type_predicates: list[dict], out_dir: str
) -> dict[str, str]:
    """All three schema outputs the reference's schema stage produces:
    the manifest JSON, the per-type predicate lists, and the Dgraph-style
    schema text (generate_schema, load_dgraph.py:209-265)."""
    os.makedirs(out_dir, exist_ok=True)
    files = {
        "manifest": ("schema_manifest.json", json.dumps(manifest, indent=2)),
        "type_predicates": ("type_predicates.json", json.dumps(type_predicates, indent=2)),
        "schema": ("schema.dgraph", generate_schema_text(manifest, type_predicates) + "\n"),
    }
    paths = {}
    for key, (name, text) in files.items():
        paths[key] = os.path.join(out_dir, name)
        with open(paths[key], "w") as f:
            f.write(text)
    return paths
