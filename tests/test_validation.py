"""Validation: broken refs (J1), orphans (J2), record rules."""

from pyspark.sql import functions as F

from kartograph_spark import rules
from kartograph_spark import validation as val


def _triples(spark, rows):
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long",
    )


def test_broken_ref_excluded_and_reported(spark):
    df = _triples(
        spark,
        [
            ("urn:A:a", "dgraph.type", "A", False, "string", "c", 0),
            ("urn:A:a", "rel", "urn:B:missing", True, "uid", "c", 0),  # broken
            ("urn:A:a", "rel", "urn:A:a", True, "uid", "c", 0),  # self ok
        ],
    )
    kept, broken = val.split_broken_refs(df)
    kept_objs = {(r["pred"], r["obj"]) for r in kept.collect()}
    assert ("rel", "urn:B:missing") not in kept_objs
    assert ("rel", "urn:A:a") in kept_objs
    b = broken.collect()
    assert len(b) == 1
    assert b[0]["target_urn"] == "urn:B:missing"
    assert b[0]["severity"] == "error"


def test_orphan_detection(spark):
    df = _triples(
        spark,
        [
            ("urn:A:a", "dgraph.type", "A", False, "string", "c", 0),
            ("urn:B:b", "dgraph.type", "B", False, "string", "c", 0),
            ("urn:C:c", "dgraph.type", "C", False, "string", "c", 0),
            ("urn:A:a", "rel", "urn:B:b", True, "uid", "c", 0),
        ],
    )
    orphans = {r["entity_id"] for r in val.find_orphans(df).collect()}
    assert orphans == {"urn:C:c"}


def test_orphan_edge_cases(spark):
    """Only typed subjects can be orphans; a ref end on either side, a
    self-loop included, connects."""
    df = _triples(
        spark,
        [
            # name and description but no type: not a node, not an orphan
            ("urn:A:untyped", "name", "U", False, "string", "c", 0),
            ("urn:A:untyped", "description", "d", False, "string", "c", 0),
            # an untyped ref subject is no node either
            ("urn:A:refonly", "rel", "urn:B:target", True, "uid", "c", 0),
            # typed node that appears only as a ref object: connected
            ("urn:B:target", "dgraph.type", "B", False, "string", "c", 0),
            # self-loop: connected
            ("urn:C:loop", "dgraph.type", "C", False, "string", "c", 0),
            ("urn:C:loop", "rel", "urn:C:loop", True, "uid", "c", 0),
            # typed node with only scalars: the one orphan
            ("urn:D:alone", "dgraph.type", "D", False, "string", "c", 0),
            ("urn:D:alone", "name", "Alone", False, "string", "c", 0),
        ],
    )
    got = val.find_orphans(df).collect()
    assert [r["entity_id"] for r in got] == ["urn:D:alone"]
    assert got[0]["field"] == "graph" and got[0]["severity"] == "warning"
    assert got[0]["target_urn"] is None
    assert val.find_orphans(_triples(spark, [])).collect() == []


def _anti_join_orphans(triples):
    """find_orphans as the anti join of the node set against the ref ends."""
    nodes = (
        triples.filter(F.col("pred") == rules.DGRAPH_TYPE_PRED)
        .select(F.col("subj").alias("urn"))
        .distinct()
    )
    refs = triples.filter(F.col("obj_is_ref"))
    connected = (
        refs.select(F.col("subj").alias("urn"))
        .union(refs.select(F.col("obj").alias("urn")))
        .distinct()
    )
    return nodes.join(connected, "urn", "left_anti").select(
        F.col("urn").alias("entity_id"),
        F.lit("graph").alias("field"),
        F.lit(None).cast("string").alias("target_urn"),
        F.lit("orphan entity: no relationships to/from the graph").alias("message"),
        F.lit("warning").alias("severity"),
    )


def test_find_orphans_matches_anti_join(random_triples):
    got = val.find_orphans(random_triples)
    want = _anti_join_orphans(random_triples)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() > 0


def test_record_errors(spark):
    from kartograph_spark.extraction.mentions import MENTION_SCHEMA

    rows = [
        ("c", 0, "urn", 0, 0, "urn:service:x", "service", "x", "x", "mentions", "s", None, "HIGH"),
        ("c", 0, "urn", 0, 1, "not-a-urn", "Service", "y", "y", "mentions", "s", None, "HIGH"),
        ("c", 0, "urn", 0, 2, "urn:Service:ok", "Service", "ok", "ok", "mentions", "s", None, "HIGH"),
    ]
    df = spark.createDataFrame(rows, MENTION_SCHEMA)
    errs = val.record_errors(df).collect()
    by_field = {(e["field"], e["entity_id"]) for e in errs}
    # lowercase type fails both the URN rule (urn:service:x has lowercase
    # type segment) and the type rule
    assert ("id", "urn:service:x") in by_field
    assert ("type", "urn:service:x") in by_field
    assert ("id", "not-a-urn") in by_field
    assert not any(e["entity_id"] == "urn:Service:ok" for e in errs)
