"""Deterministic extraction rule set — the single source of truth.

Every engine takes its patterns from THIS module: the pandas core (the
pandas oracle and the cross-turn grouped extractor), the JVM-native Spark
extractor (through ``java_re``) and the DuckDB driver oracles, so the
rules cannot drift; ``tests/test_regex_parity.py`` pins that the three
regex engines agree, and correctness vs the reference is pinned by unit
tests transcribed from the reference's own test cases.

Reference semantics captured here:

- E1 URN-mention regex + per-turn dedupe-keep-first + displayName
  normalization: /root/reference/app/server/services/EntityExtractor.ts:18-49
- E4 pattern classes (emails -> EmailAddress, URLs -> CodeRepository,
  slack channels -> SlackChannel):
  /root/reference/extraction/kg_extractor/prompts/templates/entity_extraction.yaml:77-81
- Free-text verb patterns ("uses X", "deployed via X", "maintained by Y
  team", "written in Z"), HIGH-confidence tier only:
  /root/reference/extraction/docs/PROCESS.md:2123-2199
- Predicate-name cleaning: /root/reference/extraction/load_dgraph.py:357-382
- Literal formatting + sanitization: /root/reference/extraction/load_dgraph.py:384-417
- URN percent-encoding keeping ':': /root/reference/extraction/load_dgraph.py:351-355
- URN / type-name validity: /root/reference/extraction/kg_extractor/models.py:41-69

All functions are vectorized over ``pandas.Series`` (no per-row Python in
the hot path, per input_hint).
"""

from __future__ import annotations

import pandas as pd

# --------------------------------------------------------------------------
# Pattern taxonomy
# --------------------------------------------------------------------------

# E1 — exact reference pattern (EntityExtractor.ts:18)
URN_MENTION_RE = r"<urn:([^:]+):([^>]+)>"

# E4 pattern classes (entity_extraction.yaml:77-81)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s<>\"')]*[^\s<>\"').,;:!?]"
SLACK_RE = r"#([a-z0-9][a-z0-9_-]{1,})"

# Free-text verb patterns (PROCESS.md:2123-2199, HIGH-confidence tier).
# Each: (kind, regex with one capture group, predicate, entity type)
VERB_PATTERNS: list[tuple[str, str, str, str]] = [
    ("uses", r"\buses ([A-Z][A-Za-z0-9_+.-]*)", "usesTool", "Tool"),
    ("deployed_via", r"\bdeployed via ([A-Z][A-Za-z0-9_+.-]*)", "deployedVia", "Tool"),
    ("backed_by", r"\bbacked by ([A-Z][A-Za-z0-9_+.-]*)", "usesDatabase", "Database"),
    # Team object = space-separated words EACH starting uppercase: the
    # verb literals ("uses ", "deployed via ", "backed by ", "written in ",
    # "maintained by ") all start lowercase, so no verb phrase can be
    # nested inside a maintained_by object span — this keeps the combined
    # single-pass scan equivalent to independent per-pattern scans (a
    # charset admitting lowercase words would let 'maintained by the Team
    # uses Docker team' swallow the inner 'uses Docker' mention).
    (
        "maintained_by",
        r"\bmaintained by (?:the )?([A-Z][A-Za-z0-9_-]*(?: [A-Z][A-Za-z0-9_-]*)*?) team",
        "maintainedBy",
        "Team",
    ),
    (
        "written_in",
        r"\bwritten in ([A-Z][A-Za-z0-9+#]*)",
        "writtenIn",
        "ProgrammingLanguage",
    ),
    # Remaining HIGH-confidence tier (PROCESS.md:2211-2218 "extract and
    # create relationships automatically"): direct integration mentions
    # ("integrates with X API", "calls Y service"), ownership statements
    # ("owned by Y", "developed by Y team"), and the monitoring-tool verb
    # ("monitored via X").  Same invariants as above: every literal starts
    # lowercase, single-token objects carry no spaces, and the one new
    # multi-word object span (developed_by) requires each word to start
    # uppercase — so the combined single-pass scan still equals
    # independent per-pattern scans.
    (
        "integrates_with",
        r"\bintegrates with ([A-Z][A-Za-z0-9_+.-]*)",
        "integratesWith",
        "Tool",
    ),
    ("calls", r"\bcalls ([A-Z][A-Za-z0-9_+.-]*)", "calls", "Service"),
    ("owned_by", r"\bowned by (?:the )?([A-Z][A-Za-z0-9_-]*)", "ownedBy", "Team"),
    (
        "developed_by",
        r"\bdeveloped by (?:the )?([A-Z][A-Za-z0-9_-]*(?: [A-Z][A-Za-z0-9_-]*)*?) team",
        "developedBy",
        "Team",
    ),
    (
        "monitored_via",
        r"\bmonitored via ([A-Z][A-Za-z0-9_+.-]*)",
        "monitoredVia",
        "Tool",
    ),
]

# MEDIUM-confidence tier (PROCESS.md:2149-2156): indirect / implied
# mentions — "running on AWS" (implied infrastructure dependency),
# "in the production environment" (contextual inference), dependency
# phrasings without a direct integration verb.  Reference behavior:
# EXTRACT THE ENTITY, FLAG THE RELATIONSHIP FOR REVIEW instead of
# auto-creating the edge (vs the HIGH tier's automatic relationships,
# PROCESS.md:2211-2218).  Same tuple shape as VERB_PATTERNS; the same
# single-pass-scan invariants hold: every literal starts lowercase and
# every object span is either a single uppercase-leading token, a fixed
# lowercase keyword set, or a region id — none can contain a space, so
# no verb literal fits inside an object span and the combined scan stays
# equivalent to independent per-pattern scans.
MEDIUM_PATTERNS: list[tuple[str, str, str, str]] = [
    ("running_on", r"\brunning on ([A-Z][A-Za-z0-9_+.-]*)", "runsOn", "Platform"),
    ("runs_on", r"\bruns on ([A-Z][A-Za-z0-9_+.-]*)", "runsOn", "Platform"),
    (
        "depends_on",
        r"\bdepends on ([A-Z][A-Za-z0-9_+.-]*)",
        "dependsOn",
        "Service",
    ),
    (
        "connects_to",
        r"\bconnects to ([A-Z][A-Za-z0-9_+.-]*)",
        "connectsTo",
        "ExternalService",
    ),
    (
        "stores_data_in",
        r"\bstores data in ([A-Z][A-Za-z0-9_+.-]*)",
        "storesDataIn",
        "StorageService",
    ),
    (
        "hosted_in",
        r"\bhosted in ([a-z]{2}-[a-z]+-[0-9]+)",
        "hostedIn",
        "Region",
    ),
    (
        "env_context",
        r"\bin the (production|staging|development) environment",
        "environment",
        "Environment",
    ),
]

#: kinds whose relationship is review-flagged, never auto-edged
MEDIUM_KINDS = frozenset(k for k, *_ in MEDIUM_PATTERNS)

# LOW-confidence tier (PROCESS.md:2158-2163): "log for manual review, do
# not auto-extract" — no entity, no edge, no review flag; just a log row
# with the matched surface and the reason class.  Tuple: (kind, regex,
# reason).  RE2-safe (no lookarounds) so the DuckDB oracle replays the
# identical scans; patterns are lowercase-literal (the reference's
# examples are mid-sentence phrases) and disjoint from the HIGH/MEDIUM
# verb literals ("may use X" does not contain "uses X").
LOW_PATTERNS: list[tuple[str, str, str]] = [
    (
        "vague_plural",
        r"\b(?:various|multiple|several) (?:tools|services|systems|databases)\b",
        "vague mention without a clear relationship",
    ),
    (
        "ambiguous_ref",
        r"\bthe (?:database|cluster|pipeline|repo)\b",
        "ambiguous reference: no identifying name",
    ),
    (
        "conditional_use",
        r"\bmay use [A-Z][A-Za-z0-9_+.-]*",
        "conditional mention: uncertain context",
    ),
]

#: every extractable pattern family, in scan-priority order
ALL_PATTERNS: list[tuple[str, str, str, str]] = VERB_PATTERNS + MEDIUM_PATTERNS


def combined_position_re() -> str:
    """One alternation regex over E1 URNs + all verb patterns, used to
    recover the interleaved document-order of anchors and relationship
    mentions in a single non-overlapping scan.  The patterns are mutually
    non-overlapping by construction: URNs are '<urn:...>'-bracketed, verb
    phrases start with distinct lowercase literals, single-token objects
    cannot contain spaces or '<', and the one multi-word object charset
    (maintained_by) requires every word to start uppercase so no
    lowercase-leading verb literal fits inside its span — hence the
    combined scan emits exactly what independent per-pattern scans would.
    The same string works in Python re and RE2 (DuckDB), so the driver
    oracle replays the exact scan.

    Groups: urn_t/urn_i for the URN type/id segments, one named group per
    verb kind holding the captured object.
    """
    import re as _re2

    parts = [r"<urn:(?P<urn_t>[^:]+):(?P<urn_i>[^>]+)>"]
    for kind, pat, _pred, _etype in ALL_PATTERNS:
        # name the (single) capture group after the kind
        parts.append(_re2.sub(r"\((?!\?)", f"(?P<{kind}>", pat, count=1))
    return "|".join(parts)


def combined_position_re_sql() -> str:
    """RE2-safe variant with no capture groups (DuckDB and Spark extract
    group 0).  Every verb pattern opens with ``\\b``, so one ``\\b`` is
    factored out in front of their alternation: the same matches, but a
    backtracking engine (Java) tests the boundary once per position
    instead of once per pattern."""
    import re as _re2

    verbs = []
    for _kind, pat, _pred, _etype in ALL_PATTERNS:
        if not pat.startswith(r"\b"):
            raise ValueError(f"verb pattern must open with \\b: {pat!r}")
        verbs.append(_re2.sub(r"\((?!\?)", "(?:", pat[2:], count=1))
    return r"<urn:[^:]+:[^>]+>|\b(?:" + "|".join(verbs) + ")"


#: combined scan patterns, built once at import
COMBINED_POSITION_RE = combined_position_re()
COMBINED_POSITION_RE_SQL = combined_position_re_sql()

# E3 — heuristic entity-type detection over structured turn content
# (docs/PROCESS.md:1044-1068 detect_entity_type): tool-output JSON blobs
# embedded in transcript turns.  Vectorized key-field regexes instead of
# per-row JSON parsing (input_hint: no per-row Python).  Rule order
# mirrors detect_entity_type exactly:
#   1. file-path patterns on the blob's "path" field
#      (/services/ -> Service, /namespaces/ -> Namespace, /users/ -> User)
#   2. Kubernetes-style resources: "apiVersion" present + "kind": "X"
#      -> entity type X
#   3. field combination name+owner+endpoints -> Service
#   4. field combination name+cluster+namespace -> Namespace
# The entity name comes from the blob's "name" field; no "name" field ->
# no entity (nothing to identify it by; the reference's dirname-
# capitalize default needs a file identity transcripts don't carry).
STRUCT_KIND_RE = r'"kind":\s*"([A-Za-z][A-Za-z0-9_]*)"'
STRUCT_NAME_RE = r'"name":\s*"([^"]+)"'
STRUCT_API_RE = r'"apiVersion":\s*"'
STRUCT_PATH_RE = r'"path":\s*"([^"]*)"'
#: path-substring -> entity type, applied in order (detect_entity_type's
#: elif chain, PROCESS.md:1048-1054)
STRUCT_PATH_TYPES: list[tuple[str, str]] = [
    ("/services/", "Service"),
    ("/namespaces/", "Namespace"),
    ("/users/", "User"),
]
STRUCT_FIELD_RES = {
    "owner": r'"owner":\s*',
    "endpoints": r'"endpoints":\s*',
    "cluster": r'"cluster":\s*',
    "namespace": r'"namespace":\s*',
}


def detect_struct_entities(text: pd.Series) -> pd.DataFrame:
    """E3 vectorized: per-turn (entity_type, name) from embedded JSON
    blobs, or NaN rows where no rule fires.  One regex pass per key
    field; rule precedence mirrors detect_entity_type
    (PROCESS.md:1044-1068): kind field first, then field combinations.

    Contract: ONE structured entity per turn — the reference's heuristic
    runs per FILE, and a transcript turn is the analog of one tool
    output, so the first "name"/"kind" occurrences in the turn identify
    the blob.  A turn carrying multiple JSON blobs yields the first
    blob's identity (both oracles replay the identical first-match
    rule, so parity holds regardless).
    """
    name = text.str.extract(STRUCT_NAME_RE, expand=False)
    kind = text.str.extract(STRUCT_KIND_RE, expand=False)
    path = text.str.extract(STRUCT_PATH_RE, expand=False)
    has_api = text.str.contains(STRUCT_API_RE, regex=True, na=False)
    has = {
        k: text.str.contains(r, regex=True, na=False)
        for k, r in STRUCT_FIELD_RES.items()
    }
    # rule 1: path patterns (checked first, detect_entity_type order)
    etype = pd.Series(pd.NA, index=text.index, dtype="object")
    for frag, t in STRUCT_PATH_TYPES:
        etype = etype.mask(
            etype.isna() & path.notna() & path.str.contains(frag, regex=False),
            t,
        )
    # rule 2: kubernetes kind
    etype = etype.mask(etype.isna() & has_api & kind.notna(), kind)
    # rules 3-4: field combinations
    etype = etype.mask(
        etype.isna() & name.notna() & has["owner"] & has["endpoints"], "Service"
    )
    etype = etype.mask(
        etype.isna() & name.notna() & has["cluster"] & has["namespace"],
        "Namespace",
    )
    return pd.DataFrame({"entity_type": etype.where(name.notna()), "name": name})


# Validity rules (models.py:41-69)
URN_VALID_RE = r"^urn:[A-Z][A-Za-z0-9_]*:.+$"
TYPE_VALID_RE = r"^[A-Z][A-Za-z0-9_]*$"

MENTIONS_PRED = "mentions"
DGRAPH_TYPE_PRED = "dgraph.type"

# Deterministic ordering of mention kinds for tie-breaks at equal char
# offset (E1 first — it is the reference's own per-turn operator).
KIND_RANK = {
    "urn": 0,
    "email": 1,
    "url": 2,
    "slack": 3,
    "uses": 4,
    "deployed_via": 5,
    "backed_by": 6,
    "maintained_by": 7,
    "written_in": 8,
    "integrates_with": 9,
    "calls": 10,
    "owned_by": 11,
    "developed_by": 12,
    "monitored_via": 13,
    # MEDIUM tier (entity extracted, relationship review-flagged)
    "running_on": 14,
    "runs_on": 15,
    "depends_on": 16,
    "connects_to": 17,
    "stores_data_in": 18,
    "hosted_in": 19,
    "env_context": 20,
    # structured-turn operators (not part of the free-text combined scan)
    "tool_call": 21,  # transcript `tool` column -> usedTool edge
    "struct": 22,  # E3 heuristic type detection over JSON blobs
    # triples.py packs kind_rank in 5 bits: max is 30
}

# --------------------------------------------------------------------------
# Vectorized string rules
# --------------------------------------------------------------------------


def display_name(ident: pd.Series) -> pd.Series:
    """EntityExtractor.ts:38 — '-'/'_' -> space."""
    return ident.str.replace("-", " ", regex=False).str.replace("_", " ", regex=False)


def slugify(name: pd.Series) -> pd.Series:
    """Surface form -> URN identifier segment: lower, runs of space/_ -> '-'."""
    return (
        name.str.strip()
        .str.lower()
        .str.replace(r"[\s_]+", "-", regex=True)
    )


#: RE2/Java class of every character ``str.isspace`` accepts — what
#: Python's ``strip()`` and ``\s`` treat as whitespace (RE2's own ``\s``
#: lacks \v, \x1c-\x1f and the non-ASCII spaces, Java's the last two)
WS_CLASS = (
    r"\t-\r\x{1c}-\x{20}\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}"
)


def slug_sql(expr: str) -> str:
    """DuckDB twin of ``slugify`` for the SQL oracles."""
    stripped = f"regexp_replace({expr}, '^[{WS_CLASS}]+|[{WS_CLASS}]+$', '', 'g')"
    return f"regexp_replace(lower({stripped}), '[{WS_CLASS}_]+', '-', 'g')"


#: Java class of Python's ``\w`` on ``str`` (``isalnum()`` or '_')
_WORD_JAVA = r"[\p{L}\p{N}_]"


def java_re(pat: str) -> str:
    """A taxonomy pattern rendered for Java regex (Spark's regexp
    functions) with Python's ``str`` semantics: ``\\s`` becomes the
    ``str.isspace`` set (Java's is ASCII-only) and ``\\b`` a lookaround on
    Python's word class (Java's depends on the JDK).  Every other token
    means the same in both engines."""
    import re as _re2

    w = _WORD_JAVA
    out, in_class = [], False
    for tok in _re2.findall(r"\\.|.", pat, flags=_re2.S):
        if tok == r"\s":
            tok = WS_CLASS if in_class else f"[{WS_CLASS}]"
        elif tok == r"\b" and not in_class:
            tok = f"(?:(?<={w})(?!{w})|(?<!{w})(?={w}))"
        elif tok == "[":
            in_class = True
        elif tok == "]":
            in_class = False
        out.append(tok)
    return "".join(out)


def alias_norm(name: pd.Series) -> pd.Series:
    """Blocking key for entity linking: lower, [-_]+ and whitespace -> single
    space, trimmed.  The alias dictionary stores the same normalization."""
    return (
        name.str.lower()
        .str.replace(r"[-_\s]+", " ", regex=True)
        .str.strip()
    )


def clean_predicate(pred: pd.Series) -> pd.Series:
    """load_dgraph.py:357-382 — strip '@', replace $ : / \\ with '_',
    guard reserved ``uid`` and ``dgraph.`` namespace."""
    p = pred.str.lstrip("@")
    for ch in ("$", ":", "/", "\\"):
        p = p.str.replace(ch, "_", regex=False)
    p = p.mask(p == "uid", "_uid")
    starts_reserved = p.str.startswith("dgraph.")
    return p.mask(starts_reserved, "_" + p)


# Percent-encoding equivalent to urllib.parse.quote(urn, safe=":") for the
# character set that can appear in our URNs (load_dgraph.py:351-355).  '%'
# must be first.  Kept as an explicit chain so it stays vectorized and is
# reproducible in Spark SQL as the same regexp_replace chain.
_URN_ENCODE_CHAIN: list[tuple[str, str]] = [
    ("%", "%25"),
    (" ", "%20"),
    ('"', "%22"),
    ("#", "%23"),
    ("&", "%26"),
    ("'", "%27"),
    ("+", "%2B"),
    ("/", "%2F"),
    ("<", "%3C"),
    (">", "%3E"),
    ("?", "%3F"),
    ("@", "%40"),
    ("\\", "%5C"),
]


def encode_urn(urn: pd.Series) -> pd.Series:
    """Vectorized percent-encode keeping ':' (load_dgraph.py:351-355)."""
    s = urn
    for ch, rep in _URN_ENCODE_CHAIN:
        s = s.str.replace(ch, rep, regex=False)
    return s


def escape_literal(val: pd.Series) -> pd.Series:
    """String-literal escaping: backslash, double-quote, newline
    (load_dgraph.py:401-407)."""
    return (
        val.str.replace("\\", "\\\\", regex=False)
        .str.replace('"', '\\"', regex=False)
        .str.replace("\n", "\\n", regex=False)
    )


def literal_is_dropped(escaped: pd.Series) -> pd.Series:
    """load_dgraph.py:408-417 — drop strings containing braces/brackets or
    exactly 'None' (serialized objects / null artifacts)."""
    return (
        escaped.str.contains(r"[{}\[\]]", regex=True, na=True)
        | (escaped == "None")
    )


def normalize_type_stem(type_name: pd.Series) -> pd.Series:
    """Stem used to group type-case/plural variants
    (agent_deduplicator.py:273-285 analog): lowercase; drop one trailing
    's' when the name is >3 chars and not ending in 'ss'."""
    low = type_name.str.lower()
    plural = (
        (low.str.len() > 3)
        & low.str.endswith("s")
        & ~low.str.endswith("ss")
    )
    return low.where(~plural, low.str.slice(0, -1))


def pascal_fallback(stem: pd.Series) -> pd.Series:
    """Fallback canonical type when no observed variant is valid PascalCase:
    capitalize first letter of the stem."""
    return stem.str.slice(0, 1).str.upper() + stem.str.slice(1)


def _strip_plural(t: str) -> str:
    low = t.lower()
    if len(low) > 3 and low.endswith("s") and not low.endswith("ss"):
        return t[:-1]
    return t


def build_type_norm_map(type_counts: pd.DataFrame) -> dict[str, str]:
    """Deterministic type-normalization map (operator A3 + J6).

    Reference behavior (LLM-driven, agent_deduplicator.py:273-335) replaced
    by a fixed rule: group observed types by stem (lowercase, plural
    stripped); the canonical form is the plural-stripped variant that

      1. matches the PascalCase validity rule (models.py:56-69), then
      2. has the highest observed occurrence count, then
      3. is lexicographically smallest;

    if no variant is valid PascalCase, capitalize the first letter of the
    lexicographically-smallest candidate.  Driver-side: the distinct-type
    set is tiny (hundreds) even at 10^12 turns, so this map is built on
    collected counts and applied as a literal map lookup (SURVEY.md §2.6).

    ``type_counts`` columns: entity_type (str), n (int).
    Returns {observed_type -> canonical_type}, identity entries omitted.
    """
    import re

    df = type_counts.copy()
    df["stem"] = normalize_type_stem(df["entity_type"])
    out: dict[str, str] = {}
    valid = re.compile(TYPE_VALID_RE)
    for stem, grp in df.groupby("stem"):
        cands: dict[str, int] = {}
        for t, n in zip(grp["entity_type"], grp["n"]):
            c = _strip_plural(t)
            cands[c] = cands.get(c, 0) + int(n)
        valid_c = {c: n for c, n in cands.items() if valid.match(c)}
        pool = valid_c or cands
        canonical = sorted(pool.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        if not valid.match(canonical):
            canonical = canonical[:1].upper() + canonical[1:]
        for t in grp["entity_type"]:
            if t != canonical:
                out[t] = canonical
    return out
