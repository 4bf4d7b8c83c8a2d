"""Triple-emission rules: predicate cleaning, literal sanitization,
mixed-type resolution, N-Quads rendering (load_dgraph.py:273-417)."""

import pandas as pd
from pyspark.sql import functions as F

from kartograph_spark import rules
from kartograph_spark import triples as tr


def test_clean_predicate_pandas():
    s = pd.Series(["@type", "$schema", "a:b/c\\d", "uid", "dgraph.foo", "name"])
    out = list(rules.clean_predicate(s))
    assert out == ["type", "_schema", "a_b_c_d", "_uid", "_dgraph.foo", "name"]


def test_clean_predicate_spark(spark):
    df = spark.createDataFrame(
        [("@type",), ("$schema",), ("a:b/c\\d",), ("uid",), ("dgraph.foo",)],
        "pred string",
    )
    got = [r[0] for r in df.select(tr.clean_predicate_col(F.col("pred"))).collect()]
    assert got == ["type", "_schema", "a_b_c_d", "_uid", "_dgraph.foo"]


def test_literal_sanitization_parity(spark):
    vals = ['has "quotes"', "line\nbreak", "back\\slash", "{json}", "[arr]", "None", "ok"]
    s = pd.Series(vals)
    esc = rules.escape_literal(s)
    dropped = rules.literal_is_dropped(esc)
    # {json}, [arr], None dropped (load_dgraph.py:408-417)
    assert list(dropped) == [False, False, False, True, True, True, False]
    assert esc[0] == 'has \\"quotes\\"'
    assert esc[1] == "line\\nbreak"
    assert esc[2] == "back\\\\slash"

    df = spark.createDataFrame([(v,) for v in vals], "val string")
    got = df.select(
        tr.escape_literal_col(F.col("val")).alias("esc"),
        (~tr.literal_kept_col(tr.escape_literal_col(F.col("val")))).alias("dropped"),
    ).collect()
    assert [r["esc"] for r in got] == list(esc)
    assert [r["dropped"] for r in got] == list(dropped)


def test_encode_urn_parity(spark):
    import urllib.parse

    vals = [
        "urn:Service:api.v2",
        "urn:CodeRepository:https://github.com/org/repo",
        "urn:EmailAddress:a+b@c.io",
        "urn:Team:data eng",
        'urn:X:we"ird',
    ]
    s = rules.encode_urn(pd.Series(vals))
    # parity with urllib.parse.quote(urn, safe=":") on this charset
    for raw, enc in zip(vals, s):
        assert enc == urllib.parse.quote(raw, safe=":")
    df = spark.createDataFrame([(v,) for v in vals], "urn string")
    got = [r[0] for r in df.select(tr.encode_urn_col(F.col("urn"))).collect()]
    assert got == list(s)


def test_mixed_type_resolution(spark):
    rows = [
        # pred 'rel' observed as uid AND scalar -> scalar dropped
        ("urn:A:a", "rel", "urn:B:b", True, "uid", "c", 0, 0, 0),
        ("urn:A:a", "rel", "stringval", False, "string", "c", 1, 0, 0),
        # pred 'lit' scalar only -> kept
        ("urn:A:a", "lit", "42", False, "int", "c", 2, 0, 0),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long, kind_rank long, match_idx long",
    )
    out = tr.resolve_mixed_type_predicates(df).collect()
    kept = {(r["pred"], r["obj"]) for r in out}
    assert kept == {("rel", "urn:B:b"), ("lit", "42")}


def test_nquad_rendering(spark):
    rows = [
        ("urn:A:a", "rel", "urn:B:b", True, "uid"),
        ("urn:A:a", "name", "Alpha", False, "string"),
        ("urn:A:a", "n", "3", False, "int"),
        ("urn:A:a", "f", "1.5", False, "float"),
        ("urn:A:a", "ok", "true", False, "bool"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_ref boolean, dtype string"
    )
    got = {r[0] for r in tr.to_nquads(df).collect()}
    assert got == {
        "<urn:A:a> <rel> <urn:B:b> .",
        '<urn:A:a> <name> "Alpha" .',
        '<urn:A:a> <n> "3"^^<xs:int> .',
        '<urn:A:a> <f> "1.5"^^<xs:float> .',
        '<urn:A:a> <ok> "true"^^<xs:boolean> .',
    }


def test_first_occurrence_dedup(spark):
    rows = [
        ("s", "p", "o", True, "uid", "c2", 5, 0, 0),
        ("s", "p", "o", True, "uid", "c1", 9, 0, 0),  # earlier conv wins
        ("s", "p", "o", True, "uid", "c1", 2, 3, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long, kind_rank long, match_idx long",
    )
    out = tr.dedup_first_occurrence(df).collect()
    assert len(out) == 1
    assert (out[0]["conv_id"], out[0]["turn_idx"]) == ("c1", 2)


def test_dedup_keep_last_strategy(spark):
    """urn_merge_strategy 'last' (urn_deduplicator.py:83-85): latest
    emission wins provenance."""
    rows = [
        ("s", "p", "o", True, "uid", "c2", 5, 0, 0),
        ("s", "p", "o", True, "uid", "c1", 9, 0, 0),
        ("s", "p", "o", True, "uid", "c1", 2, 3, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long, kind_rank long, match_idx long",
    )
    out = tr.dedup_first_occurrence(df, keep="last").collect()
    assert len(out) == 1
    assert (out[0]["conv_id"], out[0]["turn_idx"]) == ("c2", 5)


def test_build_nodes_first_vs_last(spark):
    """Reference first/last cases (tests/unit/test_deduplication.py:41-100):
    duplicate URN, strategy picks which record's attributes survive."""
    from kartograph_spark.graph import build_nodes

    rows = [
        ("urn:Service:api1", "dgraph.type", "Service", False, "string", "c1", 0),
        ("urn:Service:api1", "name", "API 1 - First", False, "string", "c1", 0),
        ("urn:Service:api1", "dgraph.type", "Service", False, "string", "c1", 5),
        ("urn:Service:api1", "name", "API 1 - Second", False, "string", "c1", 5),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long",
    )
    first = build_nodes(df, strategy="first").collect()[0]
    assert first["name"] == "API 1 - First" and first["first_turn_idx"] == 0
    last = build_nodes(df, strategy="last").collect()[0]
    assert last["name"] == "API 1 - Second" and last["first_turn_idx"] == 5


def test_build_nodes_description_last_non_none(spark):
    """Description merge = 'use non-None description if available' scanning
    records in order (urn_deduplicator.py:124-127): the LAST record with a
    description wins, records without one never overwrite it — regardless
    of the first/last attribute strategy."""
    from kartograph_spark.graph import build_nodes

    rows = [
        ("urn:Service:a", "dgraph.type", "Service", False, "string", "c1", 0),
        ("urn:Service:a", "name", "A", False, "string", "c1", 0),
        ("urn:Service:a", "description", "first desc", False, "string", "c1", 1),
        ("urn:Service:a", "description", "second desc", False, "string", "c1", 4),
        # later record mentions the entity again WITHOUT a description
        ("urn:Service:a", "dgraph.type", "Service", False, "string", "c2", 9),
        # entity with no description at all -> NULL
        ("urn:Service:b", "dgraph.type", "Service", False, "string", "c1", 2),
        ("urn:Service:b", "name", "B", False, "string", "c1", 2),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long",
    )
    for strategy in ("first", "last"):
        got = {
            r["urn"]: r["description"]
            for r in build_nodes(df, strategy=strategy).collect()
        }
        assert got["urn:Service:a"] == "second desc"
        assert got["urn:Service:b"] is None


def test_build_nodes_edge_cases(spark):
    """Only a type triple makes a node: a name and a description alone do
    not, and neither does appearing as a ref object.  A description-only
    node has a NULL name; a self-loop changes nothing."""
    from kartograph_spark.graph import build_nodes

    rows = [
        ("urn:A:untyped", "name", "U", False, "string", "c1", 0),
        ("urn:A:untyped", "description", "d", False, "string", "c1", 0),
        ("urn:A:untyped", "rel", "urn:B:objonly", True, "uid", "c1", 0),
        ("urn:C:desc", "dgraph.type", "C", False, "string", "c1", 3),
        ("urn:C:desc", "description", "only desc", False, "string", "c1", 3),
        ("urn:D:loop", "dgraph.type", "D", False, "string", "c2", 1),
        ("urn:D:loop", "rel", "urn:D:loop", True, "uid", "c2", 1),
    ]
    schema = (
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long"
    )
    nodes = build_nodes(spark.createDataFrame(rows, schema))
    assert nodes.columns == [
        "urn", "type", "name", "description", "first_conv_id", "first_turn_idx"
    ]
    got = {r["urn"]: r.asDict() for r in nodes.collect()}
    assert set(got) == {"urn:C:desc", "urn:D:loop"}
    assert got["urn:C:desc"]["name"] is None
    assert got["urn:C:desc"]["description"] == "only desc"
    assert (got["urn:D:loop"]["type"], got["urn:D:loop"]["first_conv_id"]) == ("D", "c2")
    assert build_nodes(spark.createDataFrame([], schema)).collect() == []


def _joined_nodes(triples, strategy):
    """build_nodes as three per-predicate aggregates joined onto the types."""
    pick = F.min if strategy == "first" else F.max

    def per_subject(pred, name, agg):
        return (
            triples.filter(F.col("pred") == pred)
            .select(
                F.col("subj").alias("urn"),
                F.col("obj").alias(name),
                "conv_id",
                "turn_idx",
            )
            .groupBy("urn")
            .agg(agg(F.struct("conv_id", "turn_idx", name)).alias(name[0]))
        )

    return (
        per_subject(rules.DGRAPH_TYPE_PRED, "type", pick)
        .join(per_subject("name", "name", pick), "urn", "left")
        .join(per_subject("description", "description", F.max), "urn", "left")
        .select(
            "urn",
            F.col("t.type").alias("type"),
            F.col("n.name").alias("name"),
            F.col("d.description").alias("description"),
            F.col("t.conv_id").alias("first_conv_id"),
            F.col("t.turn_idx").alias("first_turn_idx"),
        )
    )


def test_build_nodes_matches_join_form(random_triples):
    from kartograph_spark.graph import build_nodes

    for strategy in ("first", "last"):
        got = build_nodes(random_triples, strategy=strategy)
        want = _joined_nodes(random_triples, strategy)
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())


def _schema_fixture(spark):
    """Triple set exercising every index-selection branch of the
    reference's generate_schema (load_dgraph.py:209-265)."""
    rows = [
        ("urn:Service:a", "dgraph.type", "Service", False, "string", "c1", 0),
        ("urn:Service:a", "name", "A", False, "string", "c1", 0),
        ("urn:Service:a", "url", "https://x", False, "string", "c1", 0),
        ("urn:Service:a", "mentions", "urn:Tool:t", True, "uid", "c1", 0),
        ("urn:Service:a", "notes", "free text", False, "string", "c1", 0),
        ("urn:Tool:t", "dgraph.type", "Tool", False, "string", "c1", 1),
        ("urn:Tool:t", "name", "T", False, "string", "c1", 1),
        ("urn:Conversation:c1", "dgraph.type", "Conversation", False, "string", "c1", 0),
        ("urn:Conversation:c1", "turn_count", "3", False, "int", "c1", 0),
        ("urn:Conversation:c1", "has_tool_calls", "true", False, "bool", "c1", 0),
        # mixed scalar types on one predicate -> string
        ("urn:Tool:t", "notes", "7", False, "int", "c1", 1),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long",
    )


def test_schema_manifest_index_selection(spark):
    """Index rules transcribed from load_dgraph.py:229-265: name gets
    (exact, term, fulltext, trigram) — trigram required for regexp() —
    other INDEXED_PREDICATES strings (exact, term, trigram), uid preds
    @reverse with no @index, unlisted scalars unindexed."""
    from kartograph_spark.graph import infer_schema_manifest, schema_summary

    summary = schema_summary(_schema_fixture(spark))
    by_pred = {m["predicate"]: m for m in infer_schema_manifest(summary)}
    assert by_pred["name"]["index"] == ["exact", "term", "fulltext", "trigram"]
    assert by_pred["url"]["index"] == ["exact", "term", "trigram"]
    assert by_pred["mentions"]["resolved_type"] == "uid"
    assert by_pred["mentions"]["reverse"] is True
    assert by_pred["mentions"]["index"] == []
    assert by_pred["notes"]["resolved_type"] == "string"  # mixed -> string
    assert by_pred["notes"]["index"] == []
    assert by_pred["turn_count"]["index"] == []  # int, not in INDEXED_PREDICATES


def test_type_predicates_sparse(spark):
    """Per-type predicate lists (load_dgraph.py:114-118, 219-227): each
    type lists only predicates observed on its entities; dgraph.type
    itself is excluded (the reference skips the @type key)."""
    from kartograph_spark.graph import infer_type_predicates, schema_summary

    summary = schema_summary(_schema_fixture(spark))
    tp = {t["type"]: t["predicates"] for t in infer_type_predicates(summary)}
    assert tp["Service"] == ["mentions", "name", "notes", "url"]
    assert tp["Tool"] == ["name", "notes"]
    assert tp["Conversation"] == ["has_tool_calls", "turn_count"]
    assert "dgraph.type" not in {p for ps in tp.values() for p in ps}


def test_generate_schema_text_reference_format(spark):
    """Line format parity with generate_schema: sparse type blocks, the
    hardcoded indexed type predicate, [uid] @reverse relationships,
    @index(...) scalar lines."""
    from kartograph_spark.graph import (
        generate_schema_text,
        infer_schema_manifest,
        infer_type_predicates,
        schema_summary,
    )

    summary = schema_summary(_schema_fixture(spark))
    text = generate_schema_text(
        infer_schema_manifest(summary), infer_type_predicates(summary)
    )
    lines = text.splitlines()
    assert "type Service {" in lines
    i = lines.index("type Service {")
    assert lines[i + 1 : i + 5] == ["  mentions", "  name", "  notes", "  url"]
    assert lines[i + 5] == "}"
    assert "type: string @index(exact, term) ." in lines
    assert "name: string @index(exact, term, fulltext, trigram) ." in lines
    assert "url: string @index(exact, term, trigram) ." in lines
    assert "mentions: [uid] @reverse ." in lines
    assert "notes: string ." in lines
    assert "turn_count: int ." in lines
    # type blocks come before the predicate section
    assert lines.index("type: string @index(exact, term) .") > i


def _spark_schema_manifest(triples):
    """The manifest as one Spark aggregate over the triples."""
    from kartograph_spark.graph import _index_tokens

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
                "reverse": resolved == "uid",
                "index": _index_tokens(r["pred"], resolved),
            }
        )
    return out


def _spark_type_predicates(triples):
    """The per-type predicate lists as a join onto the distinct
    (subject, type) pairs."""
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


def test_schema_summary_matches_spark_definitions(random_triples):
    """Both artifacts from the one summary equal their per-artifact Spark
    aggregates, multi-type subjects included."""
    from kartograph_spark.graph import (
        infer_schema_manifest,
        infer_type_predicates,
        schema_summary,
    )

    summary = schema_summary(random_triples)
    assert sum(r["count"] for r in summary) == random_triples.count()
    assert any(r["types"] and len(r["types"]) > 1 for r in summary)
    assert any(r["types"] is None for r in summary)
    assert infer_schema_manifest(summary) == _spark_schema_manifest(random_triples)
    assert infer_type_predicates(summary) == _spark_type_predicates(random_triples)
