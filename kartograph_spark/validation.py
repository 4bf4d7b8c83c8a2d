"""Graph validation — broken refs, orphans, record rules (operators J1/J2, V-rules).

Reference semantics:
- broken references = referenced URNs with no entity record
  (/root/reference/extraction/kg_extractor/validation/entity_validator.py:334-368,
  set difference at :357) -> left ANTI join of ref edges against node set;
  per the two-pass rule (docs/PROCESS.md:1591-1663) broken edges are
  EXCLUDED from the final graph and reported.
- orphans = entities with no edges into/out of the graph
  (entity_validator.py:290-332) -> one aggregate over the ends of the type
  triples and the refs (typed and never linked), warning only.
- record-level rules: URN format, PascalCase type
  (models.py:41-69, entity_validator.py:154-257) -> rlike filters into a
  validation_errors side table (severity model models.py:171-189).
Validation never fails the run (config.py:150-157
``fail_on_validation_errors=False``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from kartograph_spark import rules


def node_urns(triples: DataFrame) -> DataFrame:
    """Entities defined in the graph = subjects carrying a dgraph.type triple."""
    return (
        triples.filter(F.col("pred") == rules.DGRAPH_TYPE_PRED)
        .select(F.col("subj").alias("urn"))
        .distinct()
    )


def split_broken_refs(
    triples: DataFrame, broken_count: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """(kept_triples, broken_ref_edges).

    Ref edges whose obj is not a defined node are dropped from the graph
    and reported (J1 + two-pass exclusion).  Node set is distinct URNs —
    far smaller than the edge set, but not guaranteed tiny, so this is a
    plain equi join and AQE may still broadcast it when small.

    ``broken_count``, if given, observes ``broken_refs`` (the number of
    broken edges) on the joined plan both outputs filter, so the job that
    writes ``kept`` counts the broken edges too: a caller that knows the
    count can write the broken set as ``broken.limit(n)``, which costs no
    re-run of the join when ``n`` is 0.
    """
    nodes = node_urns(triples)
    # ONE pass over the (usually cached) triple frame: left join against
    # the distinct node set with a hit marker, then filter both outputs
    # from the same joined plan — instead of a scalars-scan + refs-scan +
    # semi-join union, which reads the corpus twice per consumer.
    nodes_as_obj = nodes.withColumnRenamed("urn", "obj").withColumn(
        "_hit", F.lit(True)
    )
    joined = triples.join(nodes_as_obj, "obj", "left")
    is_broken = F.col("obj_is_ref") & F.col("_hit").isNull()
    if broken_count is not None:
        joined = joined.observe(
            broken_count, F.count_if(is_broken).alias("broken_refs")
        )
    kept = joined.filter(~is_broken).select(*triples.columns)
    broken = joined.filter(is_broken).select(
        F.col("subj").alias("entity_id"),
        F.col("pred").alias("field"),
        F.col("obj").alias("target_urn"),
        F.lit("broken reference: target entity not defined").alias("message"),
        F.lit("error").alias("severity"),
    )
    return kept, broken


def find_orphans(triples: DataFrame) -> DataFrame:
    """Nodes with no inbound and no outbound ref edge (J2), severity=warning.

    One ``groupBy(urn)`` over triple ends: a type triple marks its subject
    typed, a ref marks both its ends linked.  An orphan is typed and never
    linked; an untyped ref end is no node, so it is never an orphan."""
    is_type, is_ref = F.col("pred") == rules.DGRAPH_TYPE_PRED, F.col("obj_is_ref")
    subj_end = F.struct(
        F.col("subj").alias("urn"), is_type.alias("typed"), is_ref.alias("linked")
    )
    obj_end = F.struct(
        F.col("obj").alias("urn"), F.lit(False).alias("typed"), F.lit(True).alias("linked")
    )
    ends = F.when(is_ref, F.array(subj_end, obj_end)).otherwise(F.array(subj_end))
    return (
        triples.filter(is_type | is_ref)
        .select(F.inline(ends))
        .groupBy("urn")
        .agg(F.max("typed").alias("typed"), F.max("linked").alias("linked"))
        .filter(F.col("typed") & ~F.col("linked"))
        .select(
            F.col("urn").alias("entity_id"),
            F.lit("graph").alias("field"),
            F.lit(None).cast("string").alias("target_urn"),
            F.lit("orphan entity: no relationships to/from the graph").alias("message"),
            F.lit("warning").alias("severity"),
        )
    )


def record_errors(mentions: DataFrame) -> DataFrame:
    """URN / type-name validity over extracted mentions (models.py:41-69)."""
    bad_urn = mentions.filter(~F.col("urn").rlike(rules.URN_VALID_RE)).select(
        F.col("urn").alias("entity_id"),
        F.lit("id").alias("field"),
        F.lit(None).cast("string").alias("target_urn"),
        F.lit("invalid URN format, expected urn:Type:identifier").alias("message"),
        F.lit("error").alias("severity"),
    )
    bad_type = mentions.filter(
        ~F.col("entity_type").rlike(rules.TYPE_VALID_RE)
    ).select(
        F.col("urn").alias("entity_id"),
        F.lit("type").alias("field"),
        F.lit(None).cast("string").alias("target_urn"),
        F.lit("invalid type name, expected PascalCase alphanumeric").alias("message"),
        F.lit("warning").alias("severity"),
    )
    return bad_urn.unionByName(bad_type).distinct()


def review_flags(mentions: DataFrame) -> DataFrame:
    """MEDIUM-confidence relationship flags (docs/PROCESS.md:2149-2156):
    for indirect mentions ("running on X", "in the production
    environment") the reference extracts the entity but FLAGS the
    relationship for human review instead of auto-creating the edge.
    The entity side (node triples + a plain ``mentions`` edge) is emitted
    by triples.mention_triples; this side table carries the withheld
    (subj, pred, obj) relationship with its provenance.

    Input: (canonicalized) mentions carrying a ``confidence`` column.
    Pure narrow filter + projection over the mention frame — no shuffle.
    """
    from kartograph_spark.triples import clean_predicate_col, conv_subject_col

    return mentions.filter(F.col("confidence") == "MEDIUM").select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "kind",
        F.coalesce(F.col("subj_urn"), conv_subject_col()).alias("subj"),
        clean_predicate_col(F.col("pred")).alias("pred"),
        F.col("urn").alias("obj"),
        F.lit("MEDIUM").alias("confidence"),
        F.lit("indirect mention: relationship flagged for review").alias(
            "message"
        ),
    )


def validation_summary(errors: DataFrame) -> DataFrame:
    """A8 rollup: counts by severity and field, distinct entities."""
    return errors.groupBy("severity", "field").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("entity_id").alias("entities"),
    )
