"""Graph materialization + schema inference (M5; sinks S5/S6/S8).

Outputs:
- ``graph_nodes(urn, type, name, first_conv_id, first_turn_idx)``
  partitioned by ``type`` — node attrs follow FIRST-occurrence semantics
  under stable ordering (W1, urn_deduplicator.py:54-90 'first' strategy).
- ``graph_edges(subj, pred, obj, conv_id, turn_idx)`` partitioned by
  ``pred`` (the Iceberg-partitioning analog of Dgraph's per-predicate
  indexes, load_dgraph.py:229-265).
- schema manifest — per-predicate resolved dtype with uid>string
  precedence (load_dgraph.py:86-206), derived as an aggregation (A6).

Table format: Iceberg when the runtime is on the classpath, else
partitioned parquet with identical layout (TableStore below) — the write
API is format-agnostic so a real cluster flips one config.  A table is
read back with the schema recorded at its write, so a read launches no
schema-inference job (and an empty table, which has no footer to infer
from, reads as zero rows).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kartograph_spark import rules


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: SLF001
        return True
    except Exception:
        return False


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
    """Minimal table-format abstraction: Iceberg if present, else parquet.

    On a real cluster with an Iceberg catalog configured, writes become
    ``writeTo(...).createOrReplace()`` against the catalog; in this sandbox
    (no Iceberg jars) identical partitioned parquet layout is used.

    ``schemas`` holds the read-back schema of every table this store wrote
    or was told about (``pipeline.run_stage`` loads a skipped stage's from
    its resume manifest); ``read`` passes it to the reader, so reading a
    table launches no schema-inference job.  There is no inference
    fallback: reading a table the store has no schema for is a KeyError.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.iceberg = _iceberg_available(spark)
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
    """Node table from dgraph.type / name triples.

    ``strategy`` mirrors the reference's urn_merge_strategy
    (urn_deduplicator.py:80-90): 'first' keeps the earliest record's
    attributes under stable (conv_id, turn_idx) order, 'last' the
    latest.  (The 'merge_predicates' strategy is the triple table itself
    — union of distinct (pred, obj) per subject, operator A2.)
    Single map-side-combinable aggregation either way.
    """
    if strategy not in ("first", "last"):
        raise ValueError(f"unknown dedup strategy: {strategy}")
    pick = F.min if strategy == "first" else F.max
    types = triples.filter(F.col("pred") == rules.DGRAPH_TYPE_PRED).select(
        F.col("subj").alias("urn"),
        F.col("obj").alias("type"),
        "conv_id",
        "turn_idx",
    )
    names = triples.filter(F.col("pred") == "name").select(
        F.col("subj").alias("urn"),
        F.col("obj").alias("name"),
        "conv_id",
        "turn_idx",
    )
    # description: "use non-None description if available" scanning records
    # in order (urn_deduplicator.py:124-127) == the LAST non-None one.
    # None descriptions never become triples, so max over description
    # triples in stable order is exactly that merge; first/last record
    # strategies coincide with the pick on the triples that exist.
    descs = triples.filter(F.col("pred") == "description").select(
        F.col("subj").alias("urn"),
        F.col("obj").alias("description"),
        "conv_id",
        "turn_idx",
    )
    first_type = types.groupBy("urn").agg(
        pick(F.struct("conv_id", "turn_idx", "type")).alias("t")
    )
    first_name = names.groupBy("urn").agg(
        pick(F.struct("conv_id", "turn_idx", "name")).alias("n")
    )
    last_desc = descs.groupBy("urn").agg(
        F.max(F.struct("conv_id", "turn_idx", "description")).alias("d")
    )
    return (
        first_type.join(first_name, "urn", "left")
        .join(last_desc, "urn", "left")
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


def infer_schema_manifest(triples: DataFrame) -> list[dict]:
    """Per-predicate dtype resolution (load_dgraph.py:86-206):
    any uid observation -> uid; mixed scalars -> string; else the single
    observed scalar type.  Also records per-predicate triple counts and
    the reference's index selection (load_dgraph.py:229-265)."""
    agg = (
        triples.groupBy("pred")
        .agg(
            F.sort_array(F.collect_set("dtype")).alias("observed"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("pred")
    )
    out = []
    for r in agg.collect():
        observed = list(r["observed"])
        if "uid" in observed:
            resolved = "uid"
        elif len(observed) == 1:
            resolved = observed[0]
        else:
            resolved = "string"
        out.append(
            {
                "predicate": r["pred"],
                "observed_types": observed,
                "resolved_type": resolved,
                "count": r["n"],
                "reverse": resolved == "uid",  # @reverse on uid preds (load_dgraph.py:244)
                "index": _index_tokens(r["pred"], resolved),
            }
        )
    return out


def infer_type_predicates(triples: DataFrame) -> list[dict]:
    """Sparse per-entity-type predicate lists (load_dgraph.py:114-118,
    219-227): for each entity type, the sorted set of predicates observed
    on subjects of that type — the reference's ``type X { pred... }``
    blocks.  ``dgraph.type`` itself is excluded, mirroring the reference
    skipping the @type key in its per-entity predicate loop.

    Two vocabulary-sized aggregations + one broadcastable join: the type
    map (subj -> type) is entity-vocabulary-sized even at 10^12 turns.
    """
    types = (
        triples.filter(F.col("pred") == rules.DGRAPH_TYPE_PRED)
        .select("subj", F.col("obj").alias("type"))
        .distinct()
    )
    agg = (
        triples.filter(F.col("pred") != rules.DGRAPH_TYPE_PRED)
        .join(types, "subj")
        .groupBy("type")
        .agg(F.sort_array(F.collect_set("pred")).alias("predicates"))
        .orderBy("type")
    )
    return [
        {"type": r["type"], "predicates": list(r["predicates"])}
        for r in agg.collect()
    ]


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


def write_schema_manifest(manifest: list[dict], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    p = os.path.join(out_dir, "schema_manifest.json")
    with open(p, "w") as f:
        json.dump(manifest, f, indent=2)
    return p


def write_schema_artifacts(
    manifest: list[dict], type_predicates: list[dict], out_dir: str
) -> dict[str, str]:
    """All three schema outputs the reference's schema stage produces:
    the manifest JSON, the per-type predicate lists, and the Dgraph-style
    schema text (generate_schema, load_dgraph.py:209-265)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {"manifest": write_schema_manifest(manifest, out_dir)}
    tp = os.path.join(out_dir, "type_predicates.json")
    with open(tp, "w") as f:
        json.dump(type_predicates, f, indent=2)
    paths["type_predicates"] = tp
    sp = os.path.join(out_dir, "schema.dgraph")
    with open(sp, "w") as f:
        f.write(generate_schema_text(manifest, type_predicates) + "\n")
    paths["schema"] = sp
    return paths
