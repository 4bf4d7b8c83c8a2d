"""Type normalization + linking rules (A3/J6/J7, FIXTURES F4 type-case
variants: Service vs service vs Services -> Service)."""

import pandas as pd

from kartograph_spark import rules
from kartograph_spark.canonical import canonicalize_mentions
from kartograph_spark.extraction.mentions import MENTION_SCHEMA
from kartograph_spark.linking import link_pairs, load_alias_dictionary


def test_type_norm_map_rule():
    counts = pd.DataFrame(
        {
            "entity_type": ["Service", "service", "Services", "Team", "tool"],
            "n": [5, 3, 2, 4, 1],
        }
    )
    norm = rules.build_type_norm_map(counts)
    assert norm == {"service": "Service", "Services": "Service", "tool": "Tool"}


def test_type_norm_keeps_pascal_multiword():
    counts = pd.DataFrame(
        {"entity_type": ["ProgrammingLanguage", "programminglanguages"], "n": [5, 1]}
    )
    norm = rules.build_type_norm_map(counts)
    assert norm == {"programminglanguages": "ProgrammingLanguage"}


def _mentions_df(spark, rows):
    data = [
        (
            r.get("conv_id", "c0"),
            r.get("turn_idx", 0),
            r.get("kind", "uses"),
            r.get("kind_rank", 4),
            r.get("match_idx", 0),
            r["urn"],
            r.get("entity_type", "Tool"),
            r.get("ident", "x"),
            r.get("name", "x"),
            r.get("pred", "usesTool"),
            r.get("surface", "x"),
            r.get("subj_urn"),
            r.get("confidence", "HIGH"),
        )
        for r in rows
    ]
    return spark.createDataFrame(data, MENTION_SCHEMA)


def test_alias_collision_resolves_to_min(spark, alias_df):
    ad = load_alias_dictionary(alias_df)
    rows = ad.filter(ad.alias_norm == "gateway").collect()
    assert len(rows) == 1
    assert rows[0]["canonical_urn"] == "urn:Application:api-gateway"


def test_link_pairs_exact_urn_precedence(spark, alias_df):
    ad = load_alias_dictionary(alias_df)
    mentions = _mentions_df(
        spark,
        [
            # kind='urn' must never be re-linked even if name matches an alias
            {"urn": "urn:Service:payment-api", "kind": "urn", "name": "payment api"},
            # verb mention with alias-dictionary name -> pair
            {"urn": "urn:Tool:payment-api", "kind": "uses", "name": "Payment-API"},
        ],
    )
    pairs = {(r["src"], r["dst"]) for r in link_pairs(mentions, ad).collect()}
    assert pairs == {("urn:Tool:payment-api", "urn:Service:payment-api")}


def test_canonicalize_merges_type_variants(spark, alias_df):
    mentions = _mentions_df(
        spark,
        [
            {"urn": "urn:Service:foo-svc", "entity_type": "Service", "kind": "urn",
             "kind_rank": 0, "name": "foo svc", "ident": "foo-svc"},
            {"urn": "urn:service:foo-svc", "entity_type": "service", "kind": "urn",
             "kind_rank": 0, "name": "foo svc", "ident": "foo-svc", "turn_idx": 1},
            {"urn": "urn:Services:foo-svc", "entity_type": "Services", "kind": "urn",
             "kind_rank": 0, "name": "foo svc", "ident": "foo-svc", "turn_idx": 2},
        ],
    )
    canon, cmap = canonicalize_mentions(mentions, alias_df)
    urns = {r["urn"] for r in canon.select("urn").collect()}
    assert urns == {"urn:Service:foo-svc"}


def test_canonicalize_applies_dictionary(spark, alias_df):
    mentions = _mentions_df(
        spark,
        [{"urn": "urn:Tool:payment-api", "kind": "uses", "name": "Payment_API",
          "entity_type": "Tool"}],
    )
    canon, cmap = canonicalize_mentions(mentions, alias_df)
    row = canon.collect()[0]
    assert row["urn"] == "urn:Service:payment-api"
    assert row["entity_type"] == "Service"
    assert row["name"] == "Payment API"


def test_coreference_pairs_single_scan_equivalence(spark):
    """The one-scan grouped formulation of coreference_pairs emits exactly
    the pair set of link_pairs ∪ same_name_pairs across the edge cases:
    blocking-key collisions in the dictionary, same key under multiple
    entity types, candidate == canonical (excluded), kind='urn' precedence
    (never a dictionary candidate), and null-name groups."""
    from pyspark.sql import functions as F

    from kartograph_spark.canonical import coreference_pairs
    from kartograph_spark.linking import link_pairs, same_name_pairs

    mrows = [
        ("urn", "urn:Service:pay-api", "Service", "pay api"),
        ("verb", "urn:Service:pay-api2", "Service", "Pay_API"),
        ("verb", "urn:Service:pay-api3", "Service", "pay  api"),
        ("verb", "urn:Team:pay-api", "Team", "pay api"),
        ("verb", "urn:Tool:docker", "Tool", "Docker"),
        ("urn", "urn:Tool:docker-x", "Tool", "docker"),
        ("verb", "urn:Tool:kube", "Tool", "collide"),
        ("verb", "urn:Service:kube-svc", "Service", "Collide"),
        ("verb", "urn:Tool:canon-a", "Tool", "selfhit"),
        ("verb", "urn:X:nn1", "X", None),
        ("verb", "urn:X:nn2", "X", None),
    ]
    m = spark.createDataFrame(
        mrows, "kind string, urn string, entity_type string, name string"
    )
    arows = [
        ("pay api", "urn:Service:payments", "Service", "Payments"),
        ("collide", "urn:Tool:canon1", "Tool", "C1"),
        ("collide", "urn:Tool:canon2", "Tool", "C2"),
        ("selfhit", "urn:Tool:canon-a", "Tool", "A"),
        ("docker", "urn:Tool:docker-canonical", "Tool", "Docker"),
    ]
    al = spark.createDataFrame(
        arows,
        "alias_norm string, canonical_urn string, entity_type string,"
        " canonical_name string",
    )
    old = set(
        map(
            tuple,
            link_pairs(m, al)
            .unionByName(same_name_pairs(m))
            .filter(F.col("confidence") >= 0.85)
            .select("src", "dst")
            .collect(),
        )
    )
    new = set(map(tuple, coreference_pairs(m, al, 0.85).collect()))
    assert old == new and len(new) == 12


ALIAS_SCHEMA = (
    "alias_norm string, canonical_urn string, entity_type string,"
    " canonical_name string"
)


def test_dictionary_metadata_takes_the_minimum(spark):
    """One canonical_urn with two alias rows that differ in entity_type
    and canonical_name: the merged entity takes the minimum of each,
    independently (the minimum type and name come from different rows)."""
    al = spark.createDataFrame(
        [
            ("payments", "urn:Service:pay", "Service", "Alpha Pay"),
            ("pay svc", "urn:Service:pay", "Application", "Zeta Pay"),
        ],
        ALIAS_SCHEMA,
    )
    mentions = _mentions_df(
        spark,
        [{"urn": "urn:Tool:payments", "kind": "uses", "name": "Payments",
          "entity_type": "Tool"}],
    )
    canon, cmap = canonicalize_mentions(mentions, al)
    row = canon.collect()[0]
    assert row["urn"] == "urn:Service:pay"
    assert row["entity_type"] == "Application"
    assert row["name"] == "Alpha Pay"
    assert [tuple(r) for r in cmap.collect()] == [
        ("urn:Tool:payments", "urn:Service:pay")
    ]


def test_subj_urn_type_segment_is_normalized(spark):
    """A verb mention's subj_urn anchor with a type variant
    (``urn:services:x``, Service dominant) is rewritten to the URN its E1
    mention normalizes to; an unmatched type segment, an empty segment
    and a null anchor stay unchanged."""
    e1 = {"kind": "urn", "kind_rank": 0, "pred": None}
    mentions = _mentions_df(
        spark,
        [
            {**e1, "urn": "urn:services:x", "entity_type": "services", "name": "x"},
            {**e1, "urn": "urn:Service:a", "entity_type": "Service", "name": "a"},
            {**e1, "urn": "urn:Service:b", "entity_type": "Service", "name": "b"},
            {"urn": "urn:Tool:t1", "name": "t1", "subj_urn": "urn:services:x"},
            {"urn": "urn:Tool:t2", "name": "t2", "subj_urn": "urn:Widget:y"},
            {"urn": "urn:Tool:t3", "name": "t3", "subj_urn": "urn::z"},
            {"urn": "urn:Tool:t4", "name": "t4", "subj_urn": None},
        ],
    )
    al = spark.createDataFrame([], ALIAS_SCHEMA)
    canon, _ = canonicalize_mentions(mentions, al)
    by_name = {r["name"]: r for r in canon.collect()}
    assert by_name["x"]["urn"] == "urn:Service:x"
    assert by_name["x"]["entity_type"] == "Service"
    assert by_name["t1"]["subj_urn"] == by_name["x"]["urn"]
    assert by_name["t2"]["subj_urn"] == "urn:Widget:y"
    assert by_name["t3"]["subj_urn"] == "urn::z"
    assert by_name["t4"]["subj_urn"] is None
