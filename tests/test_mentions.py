"""Mention extraction (E1/E4/verb patterns) — cases transcribed from the
reference's own unit tests (app/server/services/EntityExtractor.test.ts)."""

import pandas as pd

from kartograph_spark.extraction.core import extract_mentions_block
from kartograph_spark.extraction.mentions import extract_mentions


def _turns(*texts):
    return pd.DataFrame(
        {
            "conv_id": ["c0"] * len(texts),
            "turn_idx": list(range(len(texts))),
            "text": list(texts),
        }
    )


def test_single_entity():
    m = extract_mentions_block(
        _turns("The service <urn:Application:payment-service> handles payments.")
    )
    assert len(m) == 1
    r = m.iloc[0]
    assert r["urn"] == "urn:Application:payment-service"
    assert r["entity_type"] == "Application"
    assert r["ident"] == "payment-service"
    assert r["name"] == "payment service"  # displayName, EntityExtractor.ts:38


def test_multiple_entities_in_order():
    m = extract_mentions_block(
        _turns(
            "The <urn:Application:api-gateway> routes to "
            "<urn:Application:auth-service> and <urn:Application:user-service>."
        )
    )
    assert list(m["ident"]) == ["api-gateway", "auth-service", "user-service"]


def test_underscore_and_hyphen_display_names():
    m = extract_mentions_block(
        _turns(
            "Found <urn:Namespace:kube_system> namespace.",
            "<urn:Application:my-service_v2>",
        )
    )
    assert m[m["ident"] == "kube_system"].iloc[0]["name"] == "kube system"
    assert m[m["ident"] == "my-service_v2"].iloc[0]["name"] == "my service v2"


def test_dedupe_same_urn_keeps_first():
    m = extract_mentions_block(
        _turns("dup <urn:Service:x> mid <urn:Service:y> again <urn:Service:x>")
    )
    assert len(m) == 2
    assert list(m["ident"]) == ["x", "y"]
    assert m.iloc[0]["match_idx"] == 0


def test_malformed_urns_extract_nothing():
    # one malformed token per turn (combining them in one string creates a
    # spanning match under the reference's own regex, EntityExtractor.ts:18)
    m = extract_mentions_block(
        _turns("<urn:missing>", "<urn::x>", "<urn:>", "<urn:Type>")
    )
    assert len(m) == 0


def test_malformed_urn_skipped_next_to_valid():
    # exact reference case: EntityExtractor.test.ts "missing type"
    m = extract_mentions_block(
        _turns("<urn::missing-type> and <urn:Valid:valid-id>")
    )
    assert len(m) == 1
    assert m.iloc[0]["ident"] == "valid-id"


def test_pattern_classes():
    m = extract_mentions_block(
        _turns(
            "Contact Alice@Example.COM via https://github.com/org/repo. "
            "or #incident-response"
        )
    )
    kinds = dict(zip(m["kind"], m["urn"]))
    assert kinds["email"] == "urn:EmailAddress:alice@example.com"
    assert kinds["url"] == "urn:CodeRepository:https://github.com/org/repo"
    assert kinds["slack"] == "urn:SlackChannel:incident-response"


def test_verb_patterns():
    m = extract_mentions_block(
        _turns(
            "It uses Prometheus, is deployed via ArgoCD, backed by PostgreSQL, "
            "maintained by the Platform team and written in Go."
        )
    )
    by_pred = dict(zip(m["pred"], m["urn"]))
    assert by_pred["usesTool"] == "urn:Tool:prometheus"
    assert by_pred["deployedVia"] == "urn:Tool:argocd"
    assert by_pred["usesDatabase"] == "urn:Database:postgresql"
    assert by_pred["maintainedBy"] == "urn:Team:platform"
    assert by_pred["writtenIn"] == "urn:ProgrammingLanguage:go"


def test_verb_nested_in_maintained_by_span_not_swallowed():
    """A verb phrase that would sit inside a lax maintained_by object span
    must still be emitted: the maintained_by object charset requires every
    word to start uppercase, so 'Team uses Docker' cannot be consumed as a
    team name and the inner 'uses Docker' survives the combined scan."""
    m = extract_mentions_block(
        _turns("maintained by the Team uses Docker team")
    )
    by_pred = dict(zip(m["pred"], m["urn"]))
    assert by_pred["usesTool"] == "urn:Tool:docker"
    # the malformed multi-word span is NOT a maintained_by match
    assert "maintainedBy" not in by_pred


def test_maintained_by_multiword_uppercase_team():
    m = extract_mentions_block(_turns("maintained by the Core Infra team"))
    by_pred = dict(zip(m["pred"], m["urn"]))
    assert by_pred["maintainedBy"] == "urn:Team:core-infra"


def test_high_tier_verb_patterns_round4():
    """The remaining HIGH-confidence tier (PROCESS.md:2211-2218):
    integration, call, ownership, development, monitoring phrasings."""
    m = extract_mentions_block(
        _turns(
            "It integrates with GitHub API, calls Vault for secrets, "
            "is owned by SRE, was developed by the Advanced Cluster "
            "Security team and is monitored via Grafana dashboards."
        )
    )
    by_pred = dict(zip(m["pred"], m["urn"]))
    assert by_pred["integratesWith"] == "urn:Tool:github"
    assert by_pred["calls"] == "urn:Service:vault"
    assert by_pred["ownedBy"] == "urn:Team:sre"
    assert by_pred["developedBy"] == "urn:Team:advanced-cluster-security"
    assert by_pred["monitoredVia"] == "urn:Tool:grafana"


def test_owned_by_optional_the():
    m = extract_mentions_block(_turns("owned by the Platform org"))
    by_pred = dict(zip(m["pred"], m["urn"]))
    assert by_pred["ownedBy"] == "urn:Team:platform"


def test_verb_nested_in_developed_by_span_not_swallowed():
    """Same invariant as the maintained_by nested case: the developed_by
    multi-word object charset requires every word to start uppercase, so
    a lowercase verb literal inside the would-be span is never consumed —
    the inner mention survives the combined scan and the malformed
    developed_by does not match."""
    m = extract_mentions_block(
        _turns("developed by the Team uses Docker team")
    )
    by_pred = dict(zip(m["pred"], m["urn"]))
    assert by_pred["usesTool"] == "urn:Tool:docker"
    assert "developedBy" not in by_pred


def test_nested_verbs_after_single_token_objects():
    """Single-token object charsets stop at whitespace, so a verb phrase
    immediately following another's object is always emitted."""
    m = extract_mentions_block(
        _turns(
            "calls Checkout integrates with Stripe monitored via "
            "Prometheus owned by SRE"
        )
    )
    by_pred = dict(zip(m["pred"], m["urn"]))
    assert by_pred["calls"] == "urn:Service:checkout"
    assert by_pred["integratesWith"] == "urn:Tool:stripe"
    assert by_pred["monitoredVia"] == "urn:Tool:prometheus"
    assert by_pred["ownedBy"] == "urn:Team:sre"
    assert len(m) == 4


def test_verb_subject_attribution_nearest_preceding():
    m = extract_mentions_block(
        _turns(
            "Check <urn:Service:api.v2> then <urn:Service:node-42> — "
            "it uses Kafka and is maintained by the SRE team."
        )
    )
    verbs = m[m["pred"] != "mentions"]
    # both verb mentions attach to the NEAREST preceding anchor
    assert set(verbs["subj_urn"]) == {"urn:Service:node-42"}
    # plain mentions carry no subject
    assert m[m["pred"] == "mentions"]["subj_urn"].isna().all()


def test_verb_subject_fallback_no_anchor():
    m = extract_mentions_block(_turns("service uses Redis for caching"))
    assert len(m) == 1
    assert pd.isna(m.iloc[0]["subj_urn"])


def test_verb_anchor_does_not_cross_turns():
    m = extract_mentions_block(
        _turns("<urn:Application:payment-service> deployed", "it uses Vault")
    )
    verb = m[m["pred"] == "usesTool"].iloc[0]
    assert pd.isna(verb["subj_urn"])  # anchor is in the previous turn


def test_verb_edge_survives_same_urn_mention():
    # an E1 mention of urn:Tool:vault must NOT swallow the relationship
    # edge to the same entity (different operator, different dedupe key)
    m = extract_mentions_block(
        _turns("<urn:Tool:vault> is used: <urn:Service:a> uses Vault")
    )
    assert (m["pred"] == "usesTool").sum() == 1
    assert (m["pred"] == "mentions").sum() == 2


def test_spark_matches_pandas_core(spark, transcripts_df, transcripts_pdf):
    got = (
        extract_mentions(transcripts_df)
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "kind_rank", "match_idx"])
        .reset_index(drop=True)
    )
    exp = (
        extract_mentions_block(
            transcripts_pdf[["conv_id", "turn_idx", "text", "tool"]]
        )
        .sort_values(["conv_id", "turn_idx", "kind_rank", "match_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}), exp.astype({"turn_idx": "int64"})
    )


def test_cross_turn_anchors_grouped(spark):
    """applyInPandas grouped extraction: anchors carry across turns of a
    conversation; the map-only default stays within-turn."""
    from kartograph_spark.extraction.mentions import extract_mentions_grouped

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": [0, 1, 0],
            "text": [
                "<urn:Application:payment-service> deployed today",
                "it uses Vault now",
                "unrelated conversation uses Redis",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    grouped = extract_mentions_grouped(df).toPandas()
    verb = grouped[grouped["pred"] == "usesTool"].set_index("urn")
    # c1 turn 1 inherits the anchor from turn 0
    assert verb.loc["urn:Tool:vault", "subj_urn"] == "urn:Application:payment-service"
    # anchors never leak across conversations
    assert pd.isna(verb.loc["urn:Tool:redis", "subj_urn"])

    default = extract_mentions(df).toPandas()
    dverb = default[default["pred"] == "usesTool"].set_index("urn")
    assert pd.isna(dverb.loc["urn:Tool:vault", "subj_urn"])  # within-turn only


def test_combined_scan_equals_independent_scans_property():
    """Load-bearing invariant behind oracle parity: the single combined
    alternation scan emits exactly what independent per-pattern scans
    would, for any interleaving of URNs (space-free ids, per the URN
    grammar models.py:41-54), verb phrases (all 10 kinds), pattern-class
    tokens and noise — now including the MEDIUM indirect tier (running
    on / runs on / depends on / connects to / stores data in / hosted in
    <region> / in the <env> environment).  Hypothesis drives random
    fragment interleavings."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kartograph_spark import rules

    urns = st.sampled_from(
        ["<urn:Application:pay-svc>", "<urn:Namespace:kube_system>",
         "<urn:Service:api.v2>", "<urn:service:x_1>"]
    )
    objs = st.sampled_from(["Prometheus", "K8s-v2", "Go", "C++", "Stripe.io"])
    teams = st.sampled_from(["Platform", "Core Infra", "Data-Eng Ops"])
    verb = st.one_of(
        st.tuples(st.sampled_from(
            ["uses", "deployed via", "backed by", "written in",
             "integrates with", "calls", "monitored via", "owned by"]
        ), objs).map(lambda t: f"{t[0]} {t[1]}"),
        st.tuples(st.sampled_from(["maintained by", "developed by"]), teams)
        .map(lambda t: f"{t[0]} the {t[1]} team"),
        # near-miss noise: lowercase objects / missing ' team' suffix /
        # capitalized verb literals never match
        st.sampled_from(
            ["uses docker", "Uses Docker", "maintained by the Big Team",
             "owned by ops", "calls for help", "plain prose words"]
        ),
        # MEDIUM indirect tier fragments + near-miss noise
        st.tuples(st.sampled_from(
            ["running on", "runs on", "depends on", "connects to",
             "stores data in"]
        ), objs).map(lambda t: f"{t[0]} {t[1]}"),
        st.sampled_from(
            ["hosted in us-east-1 region", "hosted in eu-west-2",
             "in the production environment", "in the staging environment",
             "running on lowercase", "in the test environment",
             "hosted in US-EAST-1"]
        ),
    )
    frags = st.lists(st.one_of(urns, verb), min_size=0, max_size=8)

    @settings(max_examples=200, deadline=None)
    @given(frags)
    def check(parts):
        text = " and ".join(parts)
        cm = list(re.finditer(rules.COMBINED_POSITION_RE, text))
        for kind, pat, _pred, _etype in rules.ALL_PATTERNS:
            independent = [m.group(1) for m in re.finditer(pat, text)]
            combined = [m.group(kind) for m in cm if m.group(kind) is not None]
            assert combined == independent, (kind, text)
        urn_ind = [m.groups() for m in re.finditer(rules.URN_MENTION_RE, text)]
        urn_comb = [
            (m.group("urn_t"), m.group("urn_i"))
            for m in cm
            if m.group("urn_t") is not None
        ]
        assert urn_comb == urn_ind, text

    check()


# --------------------------------------------------------------------------
# MEDIUM-confidence indirect tier (PROCESS.md:2149-2156)
# --------------------------------------------------------------------------


def test_medium_tier_patterns():
    """Each MEDIUM pattern extracts its entity with confidence=MEDIUM."""
    out = extract_mentions_block(
        _turns(
            "The API is running on AWS today.",
            "It runs on OpenShift now.",
            "The exporter depends on Kafka heavily.",
            "It connects to Splunk nightly.",
            "The job stores data in S3 buckets.",
            "It is hosted in us-east-1 region.",
            "Deployed by hand in the production environment.",
        )
    )
    med = out[out["confidence"] == "MEDIUM"].set_index("kind")
    assert med.loc["running_on", "urn"] == "urn:Platform:aws"
    assert med.loc["runs_on", "urn"] == "urn:Platform:openshift"
    assert med.loc["depends_on", "urn"] == "urn:Service:kafka"
    assert med.loc["connects_to", "urn"] == "urn:ExternalService:splunk"
    assert med.loc["stores_data_in", "urn"] == "urn:StorageService:s3"
    assert med.loc["hosted_in", "urn"] == "urn:Region:us-east-1"
    assert med.loc["env_context", "urn"] == "urn:Environment:production"
    assert med.loc["env_context", "pred"] == "environment"
    # everything else in these turns is HIGH or plain
    assert (out[out["confidence"] != "MEDIUM"]["confidence"] == "HIGH").all()


def test_medium_near_misses_extract_nothing():
    out = extract_mentions_block(
        _turns(
            "running on lowercase platforms is fine.",
            "hosted in THE-CLOUD region.",
            "in the test environment nothing matches.",
            "it depends on good weather.",
        )
    )
    assert len(out) == 0


def test_high_verb_nested_after_medium_object_not_swallowed():
    """'runs on Kubernetes uses Docker' — the MEDIUM single-token object
    span must not swallow the adjacent HIGH verb mention."""
    out = extract_mentions_block(
        _turns("The gateway runs on Kubernetes uses Docker daily.")
    )
    kinds = dict(zip(out["kind"], out["urn"]))
    assert kinds["runs_on"] == "urn:Platform:kubernetes"
    assert kinds["uses"] == "urn:Tool:docker"
    conf = dict(zip(out["kind"], out["confidence"]))
    assert conf == {"runs_on": "MEDIUM", "uses": "HIGH"}


def test_medium_nested_inside_high_team_span_not_swallowed():
    """A MEDIUM phrase right after a multi-word HIGH object span: the
    'maintained by ... team' span is lazily bounded, so the following
    'running on AWS' survives as its own mention."""
    out = extract_mentions_block(
        _turns("maintained by the Core Infra team running on AWS now.")
    )
    kinds = dict(zip(out["kind"], out["urn"]))
    assert kinds["maintained_by"] == "urn:Team:core-infra"
    assert kinds["running_on"] == "urn:Platform:aws"


def test_medium_subject_attribution_and_flag_fields():
    """MEDIUM mentions attribute to the nearest preceding anchor like HIGH
    verbs (the review flag needs the subject), and keep their flagged
    predicate in the mention row."""
    out = extract_mentions_block(
        _turns("Service <urn:Application:pay> is running on AWS but uses Prometheus.")
    )
    med = out[out["kind"] == "running_on"].iloc[0]
    assert med["subj_urn"] == "urn:Application:pay"
    assert med["pred"] == "runsOn"
    assert med["confidence"] == "MEDIUM"


# --------------------------------------------------------------------------
# tool column (ThinkingStep toolName analog) + E3 structured detection
# --------------------------------------------------------------------------


def test_tool_column_emits_used_tool():
    df = _turns("plain text", "more text")
    df["tool"] = ["query_dgraph", None]
    out = extract_mentions_block(df)
    t = out[out["kind"] == "tool_call"]
    assert len(t) == 1
    r = t.iloc[0]
    assert r["urn"] == "urn:Tool:query-dgraph"
    assert r["pred"] == "usedTool"
    assert r["entity_type"] == "Tool"
    assert r["name"] == "query_dgraph"
    assert r["turn_idx"] == 0
    # no tool column at all -> still works, no tool rows
    out2 = extract_mentions_block(_turns("plain text"))
    assert (out2["kind"] != "tool_call").all()


def test_tool_triple_reaches_pipeline(spark):
    """usedTool edges appear in the final triple set."""
    import pandas as pd

    from kartograph_spark.pipeline import build_triples

    tr = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1", "c1"],
                "turn_idx": [0, 1],
                "role": ["user", "assistant"],
                "text": ["hello", "done"],
                "tool": [None, "web_search"],
                "ts": pd.to_datetime(["2026-01-01 00:00", "2026-01-01 00:01"]),
            }
        )
    )
    al = spark.createDataFrame(
        [], "alias_norm string, canonical_urn string, entity_type string, canonical_name string"
    )
    kept, _ = build_triples(spark, tr, al)
    rows = {(r["subj"], r["pred"], r["obj"]) for r in kept.collect()}
    assert ("urn:Conversation:c1", "usedTool", "urn:Tool:web-search") in rows
    assert ("urn:Tool:web-search", "dgraph.type", "Tool") in rows
    assert ("urn:Tool:web-search", "name", "web_search") in rows


def test_struct_kind_field_detection():
    """E3 rule 1 (PROCESS.md:1044-1056): apiVersion + kind -> type=kind."""
    out = extract_mentions_block(
        _turns('{"apiVersion": "apps/v1", "kind": "Deployment", "name": "pay-api"}')
    )
    s = out[out["kind"] == "struct"].iloc[0]
    assert s["urn"] == "urn:Deployment:pay-api"
    assert s["entity_type"] == "Deployment"
    assert s["name"] == "pay-api"
    assert s["pred"] == "mentions"


def test_struct_field_combination_rules():
    """E3 rule 2/3: name+owner+endpoints -> Service;
    name+cluster+namespace -> Namespace."""
    out = extract_mentions_block(
        _turns(
            '{"name": "billing", "owner": "sre", "endpoints": []}',
            '{"name": "checkout", "cluster": "p1", "namespace": "shop"}',
        )
    )
    s = out[out["kind"] == "struct"].set_index("turn_idx")
    assert s.loc[0, "entity_type"] == "Service"
    assert s.loc[1, "entity_type"] == "Namespace"


def test_struct_negative_cases():
    out = extract_mentions_block(
        _turns(
            '{"kind": "ConfigMap", "name": "settings"}',      # no apiVersion
            '{"apiVersion": "v1", "kind": "Secret"}',          # no name
            '{"name": "solo"}',                                # no combo
            "prose with kind words and a name but no JSON",
        )
    )
    assert (out["kind"] != "struct").all()


# --------------------------------------------------------------------------
# LOW-confidence tier (PROCESS.md:2158-2163): log-only
# --------------------------------------------------------------------------


def test_low_confidence_log_patterns():
    from kartograph_spark.extraction.core import extract_low_confidence

    out = extract_low_confidence(
        _turns(
            "We tried various tools and multiple services broke.",
            "Check the database and the pipeline.",
            "It may use Redis if caching is enabled.",
        )
    )
    kinds = out.groupby("kind")["surface"].apply(list).to_dict()
    assert kinds["vague_plural"] == ["various tools", "multiple services"]
    assert kinds["ambiguous_ref"] == ["the database", "the pipeline"]
    assert kinds["conditional_use"] == ["may use Redis"]
    assert (out["match_idx"] >= 0).all()


def test_low_tier_never_reaches_extraction():
    """LOW phrases create nothing in the mention frame — no entity, no
    edge, no flag (the log is a separate surface)."""
    out = extract_mentions_block(
        _turns(
            "We tried various tools; check the database; it may use Redis if needed."
        )
    )
    assert len(out) == 0


def test_low_log_in_pipeline_output(spark, transcripts_df, transcripts_pdf):
    from kartograph_spark.extraction.mentions import low_confidence_log
    from kartograph_spark.oracle.oracle import oracle_low_log

    got = low_confidence_log(transcripts_df).toPandas()
    exp = oracle_low_log(transcripts_pdf)
    key = ["conv_id", "turn_idx", "kind", "match_idx", "surface"]
    assert set(map(tuple, got[key].itertuples(index=False))) == set(
        map(tuple, exp[key].itertuples(index=False))
    )
    assert len(got) > 0  # the corpus plants LOW phrases


def test_struct_path_patterns_checked_first():
    """E3 rule order (detect_entity_type, PROCESS.md:1044-1056): the
    path pattern wins over the kubernetes kind field."""
    out = extract_mentions_block(
        _turns(
            'Read {"path": "/data/services/pay.yml", "name": "pay-svc"}.',
            '{"path": "/x/namespaces/s.yml", "name": "s", "apiVersion": "v1", "kind": "ConfigMap"}',
            'Fetched {"path": "/data/users/jdoe.yml", "name": "jdoe"}.',
            '{"path": "/other/thing.yml", "name": "x"}',  # no rule fires
        )
    )
    s = out[out["kind"] == "struct"].set_index("turn_idx")
    assert s.loc[0, "entity_type"] == "Service"
    assert s.loc[1, "entity_type"] == "Namespace"  # path beats kind
    assert s.loc[2, "entity_type"] == "User"
    assert 3 not in s.index


def test_colliding_kinds_dedupe_by_rank_not_position():
    """running_on and runs_on both emit (runsOn, Platform): when both
    phrasings hit the SAME object in one turn, keep-first follows
    kind_rank (running_on = 14 < runs_on = 15), not text position — the
    rule the edges oracles replay with ORDER BY kind_rank, cpos."""
    out = extract_mentions_block(
        _turns("It runs on AWS mostly; by night it is running on AWS too.")
    )
    runs = out[out["pred"] == "runsOn"]
    assert len(runs) == 1
    assert runs.iloc[0]["kind"] == "running_on"
    assert runs.iloc[0]["match_idx"] == 0


# --------------------------------------------------------------------------
# JVM-native extractor: row equality on the regex-parity boundary, and no
# Python worker in the plan
# --------------------------------------------------------------------------


def test_native_matches_pandas_on_unicode_whitespace(spark):
    """Python's \\s / strip() are Unicode, Java's \\s and Spark's trim are
    not: a URL ends at \\xa0 / \\u2003 (not at an em dash), a \\x1c inside
    a tool name slugs to '-', JSON keys accept Unicode spaces before the
    value, and an empty "path" field fires no path rule.  A native port
    that used Java's ASCII \\s would differ on every one of these rows."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["u1"] * 6,
            "turn_idx": list(range(6)),
            "text": [
                "see https://git.example.com/a\xa0and https://x.io/b\u2003ok",
                "em https://x.io/c—d, <urn:Service:pay-svc> uses Vault",
                '{"path": "", "name": "pay svc", "owner": "o", "endpoints": []}',
                '{"name":\xa0"\u2003Core\x1cOps ", "cluster":\u2003"c", "namespace": "n"}',
                "tabs\tuses Redis\x0bthen\x1cdeployed via Argo",
                None,
            ],
            "tool": [None, "web\x1csearch", " \u2003query_dgraph\xa0", None, "a\x85b", "t"],
        }
    )
    key = ["conv_id", "turn_idx", "kind_rank", "match_idx"]
    got = (
        extract_mentions(spark.createDataFrame(pdf, "conv_id string, turn_idx long, text string, tool string"))
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    exp = extract_mentions_block(pdf).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    # the boundary cases really are in the expected rows
    assert "urn:CodeRepository:https://git.example.com/a" in set(exp["urn"])
    assert "urn:CodeRepository:https://x.io/b" in set(exp["urn"])
    assert "urn:CodeRepository:https://x.io/c—d" in set(exp["urn"])
    assert "urn:Tool:web-search" in set(exp["urn"])
    assert "urn:Namespace:core-ops" in set(exp["urn"])


def test_extraction_plans_start_no_python_worker(spark, transcripts_df, alias_df):
    """extract_mentions, low_confidence_log and build_triples run in the
    JVM: no Python-worker node anywhere in their optimized plans (cached
    sub-plans included).  The grouped cross-turn extractor is the control
    that the check sees such nodes."""
    from kartograph_spark.extraction.mentions import (
        extract_mentions_grouped,
        low_confidence_log,
    )
    from kartograph_spark.pipeline import build_triples

    python_nodes = (
        "MapInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "FlatMapGroupsInPandas",
    )

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    kept, _broken = build_triples(spark, transcripts_df, alias_df)
    for df in (extract_mentions(transcripts_df), low_confidence_log(transcripts_df), kept):
        p = plan(df)
        assert not [n for n in python_nodes if n in p], p
    assert "FlatMapGroupsInPandas" in plan(extract_mentions_grouped(transcripts_df))


def test_native_schemas_match_declared(spark, transcripts_df):
    """Downstream readers rely on the declared column order and types."""
    from kartograph_spark.extraction.mentions import (
        LOW_LOG_SCHEMA,
        MENTION_SCHEMA,
        low_confidence_log,
    )

    def shape(schema):
        return [(f.name, f.dataType) for f in schema]

    assert shape(extract_mentions(transcripts_df).schema) == shape(MENTION_SCHEMA)
    no_tool = transcripts_df.drop("tool")
    assert shape(extract_mentions(no_tool).schema) == shape(MENTION_SCHEMA)
    assert shape(low_confidence_log(transcripts_df).schema) == shape(LOW_LOG_SCHEMA)
