"""Spark-side mention detection (operator E1/E4 + verb patterns).

Design (Spark-first):
- JVM-native: every rule is a plain DataFrame expression over the turn
  row — ``regexp_extract_all`` scans plus higher-order array functions —
  so extraction runs inside the executor JVM, with no Python worker and
  no Arrow round trip (SURVEY.md §2.13).  Each turn row becomes one array
  of mention structs, deduped inside the array and ``inline``-d: no
  shuffle and no window, so the stage is a pure map and scales linearly
  with input partitions.
- Regex parity with the pandas core (extraction/core.py, which stays the
  oracle input and the engine of the cross-turn grouped extractor):
  patterns go through ``rules.java_re``, which renders Python's Unicode
  ``\\s`` and ``\\b`` for Java, and ``slug`` strips and collapses the
  ``str.isspace`` set (Spark's ``trim`` strips ' ' only).
- Stable ordering: downstream first-occurrence semantics never depend on
  partition iteration order — every consumer orders by
  ``(conv_id, turn_idx, kind_rank, match_idx)`` explicitly
  (reference invariant W1/W5, SURVEY.md §2.7).
- Column pruning: only (conv_id, turn_idx, text, tool) are projected, so
  the parquet/Iceberg scan reads 4 columns (check with ``.explain`` ->
  ReadSchema).

Reference parity: EntityExtractor.ts:18-49 (regex + dedupe-keep-first),
entity_extraction.yaml:77-81, docs/PROCESS.md:2123-2199.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kartograph_spark import rules
from kartograph_spark.extraction.core import MENTION_COLUMNS, extract_mentions_block

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("kind_rank", T.LongType()),
        T.StructField("match_idx", T.LongType()),
        T.StructField("urn", T.StringType()),
        T.StructField("entity_type", T.StringType()),
        T.StructField("ident", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("surface", T.StringType()),
        T.StructField("subj_urn", T.StringType()),
        T.StructField("confidence", T.StringType()),
    ]
)

# The extractor is generated Spark SQL text: an expression string costs
# one JVM call to build, where the same tree assembled from Column objects
# costs thousands of Py4J round trips (about 0.8 s per extract_mentions
# call on a 4-vCPU VM).

#: a turn's text, NULL read as ''
_TEXT = "coalesce(text, '')"

#: combined-scan kinds: index 0 is the E1 urn, then every verb pattern
_SCAN_KINDS = ["urn", *(k for k, *_ in rules.ALL_PATTERNS)]


def _q(s: str) -> str:
    """A Spark SQL string literal that reads back as ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _arr(values) -> str:
    return "array(" + ", ".join(_q(v) for v in values) + ")"


def slug(name: str) -> str:
    """Native ``rules.slugify`` over the SQL expression ``name``: strip
    the ``str.isspace`` set (Spark's ``trim`` strips ' ' only), lower,
    runs of whitespace/'_' -> '-'."""
    ws = rules.WS_CLASS
    stripped = f"regexp_replace({name}, {_q(f'^[{ws}]+|[{ws}]+$')}, '')"
    return f"regexp_replace(lower({stripped}), {_q(f'[{ws}_]+')}, '-')"


def _scan(text: str, pat: str, group: int = 0) -> str:
    """Every match of ``pat`` (its ``group``) in document order."""
    return f"regexp_extract_all({text}, {_q(rules.java_re(pat))}, {group})"


def _extract(text: str, pat: str, group: int = 1) -> str:
    return f"regexp_extract({text}, {_q(rules.java_re(pat))}, {group})"


def _mention(kind, rank, match_idx, etype, ident, name, pred, surface,
             subj_urn="NULL", confidence="'HIGH'") -> str:
    """One mention struct, fields in MENTION_SCHEMA order after turn_idx;
    every argument is a SQL expression."""
    return (
        f"named_struct('kind', {kind}, 'kind_rank', CAST({rank} AS BIGINT),"
        f" 'match_idx', CAST({match_idx} AS BIGINT),"
        f" 'urn', concat('urn:', {etype}, ':', {ident}),"
        f" 'entity_type', {etype}, 'ident', {ident}, 'name', {name},"
        f" 'pred', {pred}, 'surface', {surface},"
        f" 'subj_urn', CAST({subj_urn} AS STRING), 'confidence', {confidence})"
    )


def _verb_literal(pat: str) -> str:
    """The lowercase literal a verb pattern's match starts with."""
    return pat.split("(", 1)[0].replace("\\b", "")


def _combined_scan() -> str:
    """E1 URNs + verb patterns in ONE interleaved scan, so document order
    across the two families is known: [{m, pos, k, etype, obj}], k the
    index into ``_SCAN_KINDS``.  The kind is read off the match's leading
    literal (the verb literals are distinct and none is a prefix of
    another); for an E1 match etype/obj are the URN's type/id segments,
    for a verb match the pattern's entity type and captured object (the
    kind's pattern re-applied to the match, which it matches from 0)."""
    k = " ".join(
        f"WHEN startswith(m, {_q(_verb_literal(pat))}) THEN {i}"
        for i, (_kind, pat, *_) in enumerate(rules.ALL_PATTERNS, 1)
    )
    obj = " ".join(
        f"WHEN {i} THEN {_extract('e.m', pat)}"
        for i, (_kind, pat, *_) in enumerate(rules.ALL_PATTERNS, 1)
    )
    etypes = _arr(t for *_, t in rules.ALL_PATTERNS)
    classified = (
        f"transform({_scan(_TEXT, rules.COMBINED_POSITION_RE_SQL)}, (m, i) ->"
        f" named_struct('m', m, 'pos', i,"
        f" 'k', CASE WHEN startswith(m, '<urn:') THEN 0 {k} END))"
    )
    return (
        f"transform({classified}, e -> named_struct('m', e.m, 'pos', e.pos, 'k', e.k,"
        f" 'etype', CASE WHEN e.k = 0 THEN {_extract('e.m', rules.URN_MENTION_RE, 1)}"
        f" ELSE element_at({etypes}, e.k) END,"
        f" 'obj', CASE e.k WHEN 0 THEN {_extract('e.m', rules.URN_MENTION_RE, 2)} {obj} END))"
    )


def _combined_mentions(c: str) -> str:
    """Combined-scan matches (the array column ``c``) -> mention structs.
    match_idx is the per-kind ordinal within the turn; a verb's subj_urn
    is the nearest PRECEDING E1 URN in the turn (NULL without one)."""
    at = "element_at({}, e.k + 1)".format
    preds = [rules.MENTIONS_PRED, *(p for _k, _pat, p, _t in rules.ALL_PATTERNS)]
    ranks = ", ".join(str(rules.KIND_RANK[k]) for k in _SCAN_KINDS)
    confs = ["MEDIUM" if k in rules.MEDIUM_KINDS else "HIGH" for k in _SCAN_KINDS]
    prev = f"slice({c}, 1, e.pos)"
    anchor = f"try_element_at(filter({prev}, p -> p.k = 0), -1)"
    return f"transform({c}, e -> " + _mention(
        kind=at(_arr(_SCAN_KINDS)),
        rank=at(f"array({ranks})"),
        match_idx=f"size(filter({prev}, p -> p.k = e.k))",
        etype="e.etype",
        ident=f"CASE WHEN e.k = 0 THEN e.obj ELSE {slug('e.obj')} END",
        name="CASE WHEN e.k = 0 THEN translate(e.obj, '-_', '  ') ELSE e.obj END",
        pred=at(_arr(preds)),
        surface="CASE WHEN e.k = 0 THEN e.m ELSE e.obj END",
        subj_urn=f"CASE WHEN e.k > 0 THEN concat('urn:', {anchor}.etype, ':', {anchor}.obj) END",
        confidence=at(_arr(confs)),
    ) + ")"


def _pattern_mentions() -> list[str]:
    """E4 pattern classes (entity_extraction.yaml:77-81)."""

    def scan(kind, pat, group, etype, ident, surface):
        return f"transform({_scan(_TEXT, pat, group)}, (s, i) -> " + _mention(
            _q(kind), rules.KIND_RANK[kind], "i", _q(etype),
            ident, "s", _q(rules.MENTIONS_PRED), surface,
        ) + ")"

    return [
        scan("email", rules.EMAIL_RE, 0, "EmailAddress", "lower(s)", "s"),
        scan("url", rules.URL_RE, 0, "CodeRepository", "s", "s"),
        # the slack group excludes the '#'
        scan("slack", rules.SLACK_RE, 1, "SlackChannel", "s", "concat('#', s)"),
    ]


def _tool_mention() -> str:
    """Transcript ``tool`` column (reference ThinkingStep toolName,
    app/server/db/schema.ts:129-139): a tool-bearing turn emits a
    Conversation --usedTool--> Tool entity."""
    tool = "CAST(tool AS STRING)"
    m = _mention(
        "'tool_call'", rules.KIND_RANK["tool_call"], 0, "'Tool'",
        slug(tool), tool, "'usedTool'", tool,
    )
    return f"filter(array({m}), x -> x.name IS NOT NULL)"


def _struct_mention() -> str:
    """E3 heuristic type detection over a JSON blob in the turn
    (PROCESS.md:1044-1068), in ``rules.detect_struct_entities`` order:
    path pattern, then apiVersion + kind, then the field combinations;
    the blob's first "name" names the entity, no name -> no entity."""
    # every rule needs a "name": turns without the key scan only ''
    blob = f"""CASE WHEN instr({_TEXT}, '"name":') > 0 THEN {_TEXT} ELSE '' END"""

    def has(pat: str) -> str:
        return f"{blob} RLIKE {_q(rules.java_re(pat))}"

    name = f"nullif({_extract(blob, rules.STRUCT_NAME_RE)}, '')"
    path = _extract(blob, rules.STRUCT_PATH_RE)
    kind = _extract(blob, rules.STRUCT_KIND_RE)
    f = rules.STRUCT_FIELD_RES
    etype = (
        f"CASE WHEN {name} IS NULL THEN NULL "
        + " ".join(f"WHEN contains({path}, {_q(frag)}) THEN {_q(t)}"
                   for frag, t in rules.STRUCT_PATH_TYPES)
        + f" WHEN {has(rules.STRUCT_API_RE)} AND {kind} <> '' THEN {kind}"
        f" WHEN {has(f['owner'])} AND {has(f['endpoints'])} THEN 'Service'"
        f" WHEN {has(f['cluster'])} AND {has(f['namespace'])} THEN 'Namespace' END"
    )
    m = _mention(
        "'struct'", rules.KIND_RANK["struct"], 0, etype,
        slug(name), name, _q(rules.MENTIONS_PRED), name,
    )
    return f"filter(array({m}), x -> x.entity_type IS NOT NULL)"


def _keep_first(ms: str) -> str:
    """Per-turn dedupe keeping the first mention by (kind_rank, match_idx)
    (EntityExtractor.ts:43-48) per (subj_urn or '', pred, urn): plain
    mention kinds dedupe per urn as in the reference; verb relationship
    mentions per full (subject, predicate, object) edge, so an earlier
    plain mention of the same object entity cannot swallow them."""
    return (
        f"filter({ms}, x -> NOT exists({ms}, y ->"
        " coalesce(y.subj_urn, '') = coalesce(x.subj_urn, '')"
        " AND y.pred <=> x.pred AND y.urn <=> x.urn"
        " AND (y.kind_rank < x.kind_rank"
        " OR (y.kind_rank = x.kind_rank AND y.match_idx < x.match_idx))))"
    )


def _turns(transcripts: DataFrame, *exprs: str) -> DataFrame:
    return transcripts.selectExpr(
        "CAST(conv_id AS STRING) AS conv_id",
        "CAST(turn_idx AS BIGINT) AS turn_idx",
        *exprs,
    )


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> mentions.

    Pure map stage, one turn row in, its mention rows out, already
    per-turn-deduped keep-first.  The ``tool`` column feeds the usedTool
    emission (ThinkingStep toolName analog); inputs without it still work
    (text-only extraction).

    Three projections, each array a column of the one before: a lambda
    that reads its own array once per element must read a column, not
    re-run the scan (the optimizer does not collapse a projection whose
    costly output is read more than once).
    """
    other = [*_pattern_mentions(), _struct_mention()]
    if "tool" in transcripts.columns:
        other.append(_tool_mention())
    scanned = _turns(
        transcripts,
        f"{_combined_scan()} AS _c",
        f"concat({', '.join(other)}) AS _o",
    )
    ms = scanned.selectExpr(
        "conv_id", "turn_idx", f"concat({_combined_mentions('_c')}, _o) AS _m"
    )
    return ms.selectExpr("conv_id", "turn_idx", f"inline({_keep_first('_m')})")


def extract_mentions_grouped(
    transcripts: DataFrame, cross_turn_anchors: bool = True
) -> DataFrame:
    """Grouped-map variant (SURVEY §2.13 applyInPandas surface): whole
    conversations per group, turns sorted inside the group, so verb
    subject attribution can carry the last E1 anchor FORWARD ACROSS TURNS
    (the cross-turn coref the reference's per-chunk agent context gave it,
    orchestrator.py:294-325).  Runs the pandas core in Python workers and
    costs one shuffle on conv_id — use the map-only ``extract_mentions``
    when within-turn attribution suffices.
    """

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        out = extract_mentions_block(
            pdf.reset_index(drop=True), cross_turn_anchors=cross_turn_anchors
        )
        return out[MENTION_COLUMNS]

    cols = ["text"]
    if "tool" in transcripts.columns:
        cols.append("CAST(tool AS STRING) AS tool")
    turns = _turns(transcripts, *cols)
    return turns.groupBy("conv_id").applyInPandas(fn, schema=MENTION_SCHEMA)


LOW_LOG_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("match_idx", T.LongType()),
        T.StructField("surface", T.StringType()),
        T.StructField("reason", T.StringType()),
    ]
)


def _low_log_rows() -> str:
    """One scan per LOW pattern, match_idx = the per-pattern ordinal."""
    return "concat(" + ", ".join(
        f"transform({_scan(_TEXT, pat)}, (s, i) -> named_struct("
        f"'kind', {_q(kind)}, 'match_idx', CAST(i AS BIGINT),"
        f" 'surface', s, 'reason', {_q(reason)}))"
        for kind, pat, reason in rules.LOW_PATTERNS
    ) + ")"


def low_confidence_log(transcripts: DataFrame) -> DataFrame:
    """LOW-tier manual-review log (PROCESS.md:2158-2163): vague /
    ambiguous / conditional mentions, logged and NOT extracted.  Pure
    map stage over (conv_id, turn_idx, text), like extract_mentions."""
    return _turns(transcripts, f"inline({_low_log_rows()})")


def rules_digest() -> str:
    """sha256 of every rule the pipeline's output depends on: the
    ``rules`` constants (pattern strings, ranks, encode chain — every
    upper-case module value) and the generated extraction SQL.  Part of
    ``PipelineConfig.config_hash``, so a rule edit invalidates resume
    without a hand-bumped version."""
    constants = {
        k: v
        for k, v in vars(rules).items()
        if k.isupper() and isinstance(v, (str, int, list, tuple, dict, frozenset))
    }
    sql = [
        _combined_scan(),
        _combined_mentions("_c"),
        *_pattern_mentions(),
        _struct_mention(),
        _tool_mention(),
        _keep_first("_m"),
        _low_log_rows(),
    ]
    blob = json.dumps([constants, sql], sort_keys=True, default=sorted)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


#: the digest of the rules this process extracts with, computed once
RULES_DIGEST = rules_digest()
