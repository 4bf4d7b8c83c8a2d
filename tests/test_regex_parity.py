"""Cross-engine regex parity: every oracle rests on the premise that the
pattern taxonomy matches identically under Python re (the extraction
core) and DuckDB's RE2 (the driver oracles).  Hypothesis drives random
ASCII fragment interleavings through both engines and asserts identical
match sequences, per pattern and for the combined scan.

Scope note: parity is guaranteed over ASCII text — Python's \\b is
unicode-aware while RE2's is ASCII-only, so a word character adjacent to
a non-ASCII letter can split the engines.  The reference's rule set and
the transcript contract are ASCII identifiers, so the taxonomy's parity
boundary is documented here and the strategies stay printable-ASCII.
"""

from __future__ import annotations

import re

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kartograph_spark import rules

FRAGS = st.lists(
    st.one_of(
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
            ]
        ),
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=12,
        ),
    ),
    max_size=8,
)


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
    # E1 / E4 classes
    for pat in (rules.URN_MENTION_RE, rules.EMAIL_RE, rules.URL_RE, rules.SLACK_RE):
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
