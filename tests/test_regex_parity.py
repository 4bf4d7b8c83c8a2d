"""Cross-engine regex parity: every oracle rests on the premise that the
pattern taxonomy matches identically under Python re (the pandas core),
DuckDB's RE2 (the driver oracles) and Java regex (the JVM-native Spark
extractor, patterns rendered by ``rules.java_re``).  Hypothesis drives
random ASCII fragment interleavings through all three engines and asserts
identical match sequences, per pattern and for the combined scan.

Scope note: parity is guaranteed over ASCII text — Python's \\b is
unicode-aware while RE2's is ASCII-only, so a word character adjacent to
a non-ASCII letter can split the engines.  The reference's rule set and
the transcript contract are ASCII identifiers, so the taxonomy's parity
boundary is documented here and the shared strategy stays
printable-ASCII.  Java has no such boundary once ``java_re`` renders
Python's ``\\s``/``\\b``, so the Spark check also runs a Unicode strategy.
"""

from __future__ import annotations

import re

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kartograph_spark import rules

FRAG = st.one_of(
    st.sampled_from(
        [
            "<urn:Application:pay-svc>", "<urn:service:x_1>", "<urn::bad>",
            "uses Prometheus", "deployed via ArgoCD", "written in C++",
            "maintained by the Core Infra team", "calls Vault",
            "running on AWS", "runs on K8s-v2", "depends on Kafka",
            "connects to Splunk", "stores data in S3",
            "hosted in us-east-1 region", "in the production environment",
            "various tools", "multiple services", "the database",
            "the pipeline", "may use Redis if needed",
            "alice@example.com", "https://github.com/org/x", "#chan-1",
            "plain prose", "Uses docker", "the Database", "may uses X",
            '{"name": "pay-svc"', '"kind": "Deployment"', '"path": ""',
            '"apiVersion": "v1"', '"path": "/data/services/a.yml"',
            '"owner": "ops"', '"endpoints": []', '"cluster": "c1"',
            '"namespace":"ns"',
        ]
    ),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=12,
    ),
)
FRAGS = st.lists(FRAG, max_size=8)


#: the E3 structured-blob patterns
STRUCT_PATTERNS = (
    rules.STRUCT_KIND_RE, rules.STRUCT_NAME_RE, rules.STRUCT_API_RE,
    rules.STRUCT_PATH_RE, *rules.STRUCT_FIELD_RES.values(),
)

#: every pattern of the taxonomy, the combined scan in its group-free form
ALL_TAXONOMY = (
    *(pat for _k, pat, *_ in rules.ALL_PATTERNS),
    *(pat for _k, pat, _r in rules.LOW_PATTERNS),
    rules.URN_MENTION_RE, rules.EMAIL_RE, rules.URL_RE, rules.SLACK_RE,
    *STRUCT_PATTERNS,
    rules.COMBINED_POSITION_RE_SQL,
)

#: non-ASCII neighbours for the Python-vs-Java check: each fragment is
#: followed directly by a separator — Unicode spaces that Java's own \s
#: misses, word characters its \b would misplace — or by nothing
UNICODE_TEXTS = st.lists(
    st.tuples(
        st.one_of(FRAG, st.sampled_from(['"name":', '"svc"', '"kind":', '"Pod"'])),
        st.sampled_from(
            ["", " ", " and ", "\xa0", "\u2003", "\x1c", "\u3000", "\x85",
             "\u2014", "é", "Ω", "٣", "²", "_", "\t", "\x0b"]
        ),
    ),
    max_size=8,
).map(lambda parts: "".join(f + sep for f, sep in parts))


def _duck_matches(con, text: str, pat: str) -> list[str]:
    return con.execute(
        "SELECT regexp_extract_all(?, ?, 0)", [text, pat]
    ).fetchone()[0]


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


@settings(max_examples=150, deadline=None)
@given(FRAGS)
def _check_all(con, parts):
    text = " and ".join(parts)
    # per-pattern: verb + MEDIUM tiers (group-0 sequences)
    for _kind, pat, *_ in rules.ALL_PATTERNS:
        py = [m.group(0) for m in re.finditer(pat, text)]
        assert _duck_matches(con, text, pat) == py, (pat, text)
    # LOW tier
    for _kind, pat, _reason in rules.LOW_PATTERNS:
        py = [m.group(0) for m in re.finditer(pat, text)]
        assert _duck_matches(con, text, pat) == py, (pat, text)
    # E1 / E4 / E3 classes
    for pat in (rules.URN_MENTION_RE, rules.EMAIL_RE, rules.URL_RE,
                rules.SLACK_RE, *STRUCT_PATTERNS):
        py = [m.group(0) for m in re.finditer(pat, text)]
        assert _duck_matches(con, text, pat) == py, (pat, text)
    # the combined interleaved scan: named-group python form vs the
    # RE2-safe SQL form must yield identical group-0 sequences
    py = [m.group(0) for m in re.finditer(rules.COMBINED_POSITION_RE, text)]
    assert _duck_matches(con, text, rules.COMBINED_POSITION_RE_SQL) == py, text


def test_regex_parity_property(con):
    _check_all(con)


SLUG_NAMES = [
    "Core Infra",
    "\tCore\tInfra\n",
    "\nline\nbreak\r\n",
    " mixed \t_ runs__of\n\nspace ",
    "vt\x0bff\x0cfs\x1cend\x1f",
    "\xa0nbsp　ideographic ",
    "_lead_and_trail_",
    "\t\n",
    "",
]


def test_slug_sql_matches_slugify(con):
    """The oracle's slug template equals rules.slugify, whitespace other
    than ' ' included (tabs/newlines inside a name and at its ends)."""
    import pandas as pd

    want = rules.slugify(pd.Series(SLUG_NAMES)).tolist()
    got = [
        con.execute(f"SELECT {rules.slug_sql('?')}", [n]).fetchone()[0]
        for n in SLUG_NAMES
    ]
    assert got == want


def _collect(strategy, n: int) -> list[str]:
    """``n`` Hypothesis draws of texts from ``strategy``."""
    out: list[str] = []

    @settings(max_examples=n, deadline=None, database=None)
    @given(strategy)
    def draw(text):
        out.append(text)

    draw()
    return out


@pytest.mark.parametrize(
    "strategy", [FRAGS.map(" and ".join), UNICODE_TEXTS], ids=["ascii", "unicode"]
)
def test_java_regex_parity(spark, strategy):
    """Java (Spark ``regexp_extract_all`` over ``rules.java_re``, as the
    native extractor writes it) as the third engine: every taxonomy
    pattern over >=150 drawn texts, all in one Spark query, equals Python
    ``re``'s group-0 match sequences."""
    from kartograph_spark.extraction.mentions import _scan

    texts = _collect(strategy, 200)
    assert len(texts) >= 150
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = df.selectExpr(
        "i", *(f"{_scan('text', p)} AS p{j}" for j, p in enumerate(ALL_TAXONOMY))
    ).collect()
    assert len(got) == len(texts)
    for row in got:
        text = texts[row["i"]]
        for j, pat in enumerate(ALL_TAXONOMY):
            py = [m.group(0) for m in re.finditer(pat, text)]
            assert row[f"p{j}"] == py, (pat, text)


def test_native_slug_matches_slugify(spark):
    """The JVM-native slug expression equals rules.slugify on every
    whitespace class Python's strip()/\\s know (Spark's trim and Java's
    \\s know only some)."""
    import pandas as pd

    from kartograph_spark.extraction.mentions import slug

    df = spark.createDataFrame([(i, n) for i, n in enumerate(SLUG_NAMES)], "i int, n string")
    got = [r["s"] for r in df.selectExpr("i", f"{slug('n')} AS s").orderBy("i").collect()]
    assert got == rules.slugify(pd.Series(SLUG_NAMES)).tolist()
