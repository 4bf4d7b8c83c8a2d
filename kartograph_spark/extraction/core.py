"""Vectorized per-batch mention extraction — pandas core.

This is the deterministic replacement for the reference's LLM extraction
step (E2, /root/reference/extraction/kg_extractor/agents/extraction.py:47-121):
the rule classes it applies are the reference's own *deterministic* rules —
the E1 URN-mention regex (EntityExtractor.ts:18-49), the E4 pattern classes
(entity_extraction.yaml:77-81) and the HIGH-confidence free-text verb
patterns (docs/PROCESS.md:2123-2199).

Everything is ``pd.Series.str.extractall`` — one regex pass per pattern
class per batch, no per-row Python.  This body runs inside the pure-pandas
oracle and the grouped cross-turn extractor (``applyInPandas``); the
pipeline's map-only extractor is the independent JVM-native twin in
extraction/mentions.py, checked row-for-row against it.

Output row = one candidate mention:
  (conv_id, turn_idx, kind, match_idx, kind_rank, urn, entity_type,
   ident, name, pred, surface)

Per-turn dedupe (EntityExtractor.ts:43-48 — unique by urn keeping first
occurrence) is applied here with the deterministic order
``(kind_rank, match_idx)``: E1 matches first, then pattern classes, then
verb patterns, each in within-class match order.
"""

from __future__ import annotations

import pandas as pd

from kartograph_spark import rules

#: Arrow/Spark schema of the mention rows (keep in sync with mentions.py).
#: subj_urn: for verb-pattern relationship mentions, the URN of the nearest
#: PRECEDING E1 URN mention in the same turn (the entity the relationship
#: is attributed to, matching the reference's output contract where uid
#: triples hang off extracted entities, load_dgraph.py:299-309); NULL for
#: plain mention kinds and for verb mentions with no anchor in the turn
#: (downstream falls back to the Conversation subject).
MENTION_COLUMNS = [
    "conv_id",
    "turn_idx",
    "kind",
    "kind_rank",
    "match_idx",
    "urn",
    "entity_type",
    "ident",
    "name",
    "pred",
    "surface",
    "subj_urn",
    "confidence",
]


def _empty() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": pd.Series(dtype="object"),
            "turn_idx": pd.Series(dtype="int64"),
            "kind": pd.Series(dtype="object"),
            "kind_rank": pd.Series(dtype="int64"),
            "match_idx": pd.Series(dtype="int64"),
            "urn": pd.Series(dtype="object"),
            "entity_type": pd.Series(dtype="object"),
            "ident": pd.Series(dtype="object"),
            "name": pd.Series(dtype="object"),
            "pred": pd.Series(dtype="object"),
            "surface": pd.Series(dtype="object"),
            "subj_urn": pd.Series(dtype="object"),
            "confidence": pd.Series(dtype="object"),
        }
    )


def _join_back(base: pd.DataFrame, matches: pd.DataFrame) -> pd.DataFrame:
    """Join extractall output (MultiIndex row/match) back to
    (conv_id, turn_idx) positions of ``base``."""
    out = matches.reset_index()
    # extractall names the positional index level 'match'; the row level
    # keeps the original index name (None -> 'level_0').
    row_col = out.columns[0]
    out = out.rename(columns={row_col: "_row", "match": "match_idx"})
    out["conv_id"] = base["conv_id"].to_numpy()[out["_row"].to_numpy()]
    out["turn_idx"] = base["turn_idx"].to_numpy()[out["_row"].to_numpy()]
    return out


def _from_extractall(
    base: pd.DataFrame, matches: pd.DataFrame, kind: str
) -> pd.DataFrame:
    if matches.empty:
        return _empty()
    out = _join_back(base, matches)
    out["kind"] = kind
    out["kind_rank"] = rules.KIND_RANK[kind]
    return out


def extract_mentions_block(
    pdf: pd.DataFrame, cross_turn_anchors: bool = False
) -> pd.DataFrame:
    """Extract all candidate mentions from a batch of turns.

    ``pdf`` columns: conv_id (str), turn_idx (int), text (str).
    Returns MENTION_COLUMNS, already per-turn-deduped keep-first.

    ``cross_turn_anchors=True`` lets verb-pattern subject attribution
    carry the last E1 anchor FORWARD ACROSS TURNS of the same
    conversation (requires ``pdf`` to hold whole conversations sorted by
    (conv_id, turn_idx) — the applyInPandas grouped path provides that);
    the default attributes within the turn only.
    """
    if len(pdf) == 0:
        return _empty()
    base = pdf.reset_index(drop=True)
    text = base["text"].fillna("")
    parts: list[pd.DataFrame] = []

    # E1 URN mentions + verb patterns: ONE interleaved non-overlapping
    # scan so document order across the two families is known — each verb
    # mention is attributed to the nearest preceding E1 mention in the
    # same turn (subject attribution; anchors and verb phrases cannot
    # overlap, so per-kind results equal independent scans).
    cm = text.str.extractall(rules.COMBINED_POSITION_RE)
    verb_rows: dict[str, pd.DataFrame] = {}
    if not cm.empty:
        c = cm.reset_index()
        c = c.rename(columns={c.columns[0]: "_row"})
        # nearest preceding anchor (NaN propagates through + for verb
        # matches; ffill carries the last E1 urn).  Scope: the turn (_row)
        # by default, or the whole conversation when the caller guarantees
        # conversation-grouped turn-sorted input.
        c["_anchor"] = "urn:" + c["urn_t"] + ":" + c["urn_i"]
        if cross_turn_anchors:
            c["_conv"] = base["conv_id"].to_numpy()[c["_row"].to_numpy()]
            c["_anchor"] = c.groupby("_conv")["_anchor"].ffill()
            c = c.drop(columns="_conv")
        else:
            c["_anchor"] = c.groupby("_row")["_anchor"].ffill()

        # E1 — URN mentions (EntityExtractor.ts:18-41)
        u = c[c["urn_t"].notna()]
        if len(u):
            d = pd.DataFrame(
                {
                    "_row": u["_row"].to_numpy(),
                    "entity_type": u["urn_t"].to_numpy(),
                    "ident": u["urn_i"].to_numpy(),
                    "match_idx": u.groupby("_row").cumcount().to_numpy(),
                }
            )
            d["conv_id"] = base["conv_id"].to_numpy()[d["_row"].to_numpy()]
            d["turn_idx"] = base["turn_idx"].to_numpy()[d["_row"].to_numpy()]
            d["kind"] = "urn"
            d["kind_rank"] = rules.KIND_RANK["urn"]
            d["urn"] = "urn:" + d["entity_type"] + ":" + d["ident"]
            d["name"] = rules.display_name(d["ident"])
            d["pred"] = rules.MENTIONS_PRED
            d["surface"] = "<" + d["urn"] + ">"
            d["subj_urn"] = None
            d["confidence"] = "HIGH"
            parts.append(d)

        for kind, _pat, _pred, _etype in rules.ALL_PATTERNS:
            vk = c[c[kind].notna()]
            if len(vk):
                verb_rows[kind] = vk

    # E4 — pattern classes (entity_extraction.yaml:77-81)
    for kind, pat, etype, pred in (
        ("email", f"({rules.EMAIL_RE})", "EmailAddress", rules.MENTIONS_PRED),
        ("url", f"({rules.URL_RE})", "CodeRepository", rules.MENTIONS_PRED),
        ("slack", rules.SLACK_RE, "SlackChannel", rules.MENTIONS_PRED),
    ):
        m = text.str.extractall(pat)
        if m.empty:
            continue
        m.columns = ["surface"]
        d = _from_extractall(base, m, kind)
        if kind == "email":
            d["ident"] = d["surface"].str.lower()
            d["name"] = d["surface"]
        elif kind == "url":
            d["ident"] = d["surface"]
            d["name"] = d["surface"]
        else:  # slack: capture group excludes '#'
            d["ident"] = d["surface"]
            d["surface"] = "#" + d["surface"]
            d["name"] = d["ident"]
        d["entity_type"] = etype
        d["urn"] = "urn:" + etype + ":" + d["ident"]
        d["pred"] = pred
        d["subj_urn"] = None
        d["confidence"] = "HIGH"
        parts.append(d)

    # Transcript `tool` column (reference ThinkingStep toolName,
    # app/server/db/schema.ts:129-139): a tool-bearing turn emits a
    # Conversation --usedTool--> Tool entity (node + edge via the normal
    # mention path, so linking/canonicalization apply to tool entities).
    if "tool" in base.columns:
        tl = base[base["tool"].notna()]
        if len(tl):
            d = pd.DataFrame(
                {
                    "conv_id": tl["conv_id"].to_numpy(),
                    "turn_idx": tl["turn_idx"].to_numpy(),
                    "surface": tl["tool"].to_numpy(),
                }
            )
            d["kind"] = "tool_call"
            d["kind_rank"] = rules.KIND_RANK["tool_call"]
            d["match_idx"] = 0
            d["name"] = d["surface"]
            d["ident"] = rules.slugify(d["surface"])
            d["entity_type"] = "Tool"
            d["urn"] = "urn:Tool:" + d["ident"]
            d["pred"] = "usedTool"
            d["subj_urn"] = None
            d["confidence"] = "HIGH"
            parts.append(d)

    # E3 — heuristic type detection over structured turn content
    # (PROCESS.md:1044-1068): JSON blobs with a kind field or the known
    # field combinations yield a typed entity mention.
    st = rules.detect_struct_entities(text)
    sm = st[st["entity_type"].notna()]
    if len(sm):
        d = pd.DataFrame(
            {
                "conv_id": base["conv_id"].to_numpy()[sm.index.to_numpy()],
                "turn_idx": base["turn_idx"].to_numpy()[sm.index.to_numpy()],
                "entity_type": sm["entity_type"].to_numpy(),
                "name": sm["name"].to_numpy(),
            }
        )
        d["kind"] = "struct"
        d["kind_rank"] = rules.KIND_RANK["struct"]
        d["match_idx"] = 0
        d["ident"] = rules.slugify(d["name"])
        d["urn"] = "urn:" + d["entity_type"] + ":" + d["ident"]
        d["pred"] = rules.MENTIONS_PRED
        d["surface"] = d["name"]
        d["subj_urn"] = None
        d["confidence"] = "HIGH"
        parts.append(d)

    # Free-text verb patterns from the combined scan; subj_urn = nearest
    # preceding E1 anchor in the turn (or None).  HIGH tier
    # (PROCESS.md:2123-2199, 2211-2218): auto relationship.  MEDIUM tier
    # (PROCESS.md:2149-2156): entity extracted, relationship review-
    # flagged downstream (triples.mention_triples / validation.review_flags
    # branch on the confidence column).
    for kind, _pat, pred, etype in rules.ALL_PATTERNS:
        vk = verb_rows.get(kind)
        if vk is None:
            continue
        d = pd.DataFrame(
            {
                "_row": vk["_row"].to_numpy(),
                "surface": vk[kind].to_numpy(),
                "subj_urn": vk["_anchor"].to_numpy(),
                "match_idx": vk.groupby("_row").cumcount().to_numpy(),
            }
        )
        d["conv_id"] = base["conv_id"].to_numpy()[d["_row"].to_numpy()]
        d["turn_idx"] = base["turn_idx"].to_numpy()[d["_row"].to_numpy()]
        d["kind"] = kind
        d["kind_rank"] = rules.KIND_RANK[kind]
        d["name"] = d["surface"]
        d["ident"] = rules.slugify(d["surface"])
        d["entity_type"] = etype
        d["urn"] = "urn:" + etype + ":" + d["ident"]
        d["pred"] = pred
        d["confidence"] = "MEDIUM" if kind in rules.MEDIUM_KINDS else "HIGH"
        parts.append(d)

    if not parts:
        return _empty()
    out = pd.concat(parts, ignore_index=True)

    # Per-turn dedupe keep first occurrence by (kind_rank, match_idx)
    # (EntityExtractor.ts:43-48).  Plain mention kinds dedupe per urn as
    # in the reference (subj_urn NULL, pred constant); verb relationship
    # mentions dedupe per full (subject, predicate, object) edge — they
    # are a different operator (relationship emission) and must not be
    # swallowed by an earlier plain mention of the same object entity.
    out = out.sort_values(
        ["conv_id", "turn_idx", "kind_rank", "match_idx"],
        kind="mergesort",
    )
    out["_sk"] = out["subj_urn"].fillna("")
    out = out.drop_duplicates(
        subset=["conv_id", "turn_idx", "_sk", "pred", "urn"], keep="first"
    ).drop(columns="_sk")
    out["turn_idx"] = out["turn_idx"].astype("int64")
    out["match_idx"] = out["match_idx"].astype("int64")
    out["kind_rank"] = out["kind_rank"].astype("int64")
    return out[MENTION_COLUMNS].reset_index(drop=True)


# --------------------------------------------------------------------------
# LOW-confidence tier (PROCESS.md:2158-2163): log-only, never extracted
# --------------------------------------------------------------------------

LOW_COLUMNS = ["conv_id", "turn_idx", "kind", "match_idx", "surface", "reason"]


def extract_low_confidence(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vague / ambiguous / conditional mentions -> manual-review log rows.

    The reference's LOW tier creates NOTHING in the graph — no entity, no
    edge, no review flag — it only logs the phrase for a human
    (docs/PROCESS.md:2158-2163).  One vectorized extractall per pattern;
    rows are (conv_id, turn_idx, kind, match_idx, surface, reason).
    """
    if len(pdf) == 0:
        return pd.DataFrame({c: pd.Series(dtype="object") for c in LOW_COLUMNS})
    base = pdf.reset_index(drop=True)
    text = base["text"].fillna("")
    parts: list[pd.DataFrame] = []
    for kind, pat, reason in rules.LOW_PATTERNS:
        m = text.str.extractall(f"({pat})")
        if m.empty:
            continue
        m.columns = ["surface"]
        d = _join_back(base, m)
        d["kind"] = kind
        d["reason"] = reason
        parts.append(d)
    if not parts:
        return pd.DataFrame({c: pd.Series(dtype="object") for c in LOW_COLUMNS})
    out = pd.concat(parts, ignore_index=True)
    out["turn_idx"] = out["turn_idx"].astype("int64")
    out["match_idx"] = out["match_idx"].astype("int64")
    return out[LOW_COLUMNS].reset_index(drop=True)
