"""Canonicalization: type normalization + coreference rewrite (M4).

Operators A1/A2/A3, J4/J6 and the connected-components closure
(SURVEY.md §2.5-2.6).  Every step stays in Spark plans; the driver only
sees the observed-type histogram and the coreference pairs.

- The type map (A3) is a literal ``create_map`` looked up per row: the
  distinct-type set is tiny by contract (hundreds even at 10^12 turns),
  so the map is a few bytes of plan and costs no join and no job.
- The URN rewrite maps (the canonical map, the dictionary metadata) are
  entity-vocabulary-sized: too large to inline as literals, so they are
  explicit ``broadcast()`` hash joins.  They are never corpus-sized, so
  the mention table is never shuffled here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kartograph_spark import rules
from kartograph_spark.components import canonical_map
from kartograph_spark.linking import alias_norm_col


def build_type_normalization(mentions: DataFrame) -> dict[str, str]:
    """Observed-type histogram -> {entity_type: canonical_type}.

    A3 aggregation (agent_deduplicator.py:273-285); the distinct-type set
    is tiny even at 10^12 turns, so the deterministic rule
    (rules.build_type_norm_map) runs on the collected counts."""
    counts = mentions.groupBy("entity_type").agg(F.count(F.lit(1)).alias("n"))
    pdf = counts.toPandas()
    return rules.build_type_norm_map(pdf) if len(pdf) else {}


def _retyped(urn: Column, canonical_type: Column) -> Column:
    """``urn:<canonical_type>:<identifier>`` where ``canonical_type`` is
    set, else ``urn`` unchanged (J6 prefix rewrite keeps the identifier,
    agent_deduplicator.py:322)."""
    return F.when(
        canonical_type.isNotNull(),
        F.concat(
            F.lit("urn:"),
            canonical_type,
            F.lit(":"),
            F.regexp_replace(urn, r"^urn:[^:]*:", ""),
        ),
    ).otherwise(urn)


def apply_type_normalization(mentions: DataFrame, norm: dict[str, str]) -> DataFrame:
    """Rewrite entity_type and the URN type segment with the type map
    (J6), looked up in one literal map.

    ``subj_urn`` anchors (verb-mention subjects) carry their own embedded
    type segment and are rewritten with the same map — the anchor must
    stay identical to the URN its E1 mention row normalizes to."""
    lookup = F.create_map(*(F.lit(s) for kv in sorted(norm.items()) for s in kv))
    canon = F.try_element_at(lookup, F.col("entity_type"))
    out = mentions.withColumns(
        {
            "entity_type": F.coalesce(canon, F.col("entity_type")),
            "urn": _retyped(F.col("urn"), canon),
        }
    )
    if "subj_urn" not in out.columns:
        return out
    subj_type = F.regexp_extract("subj_urn", r"^urn:([^:]+):", 1)
    return out.withColumn(
        "subj_urn",
        _retyped(F.col("subj_urn"), F.try_element_at(lookup, subj_type)),
    )


def coreference_pairs(
    mentions: DataFrame,
    alias_dict: DataFrame,
    confidence_threshold: float = 0.85,
) -> DataFrame:
    """Union of dictionary-hit pairs (confidence 1.0) and same-blocking-key
    pairs (0.9), gated at the reference's default agent similarity
    threshold 0.85 (config.py:98-103; gate agent_deduplicator.py:347-355).

    Both families derive from ONE corpus-scan aggregation: a single
    map-side-combinable groupBy on (bkey, entity_type) collects the URN
    vocabulary per key plus the dictionary-candidate subset (kind != urn).
    The dictionary is broadcast-LEFT-joined onto that vocabulary frame and
    both pair kinds explode out of the same row — a single consumer, so
    the corpus-sized map + shuffle genuinely runs once (a union of two
    branches would let column pruning specialize each branch's partial
    aggregate and defeat exchange reuse).  A pair may repeat (a dictionary
    blocking-key collision multiplies rows): both consumers of the pair
    set ignore repeats — the driver union-find and the ``distinct`` of the
    distributed connected components — so no dedup shuffle runs here.
    The separate link_pairs /
    same_name_pairs entry points each scan the corpus and remain for
    standalone use."""
    grouped = (
        mentions.select(
            alias_norm_col(F.col("name")).alias("bkey"),
            F.col("entity_type"),
            F.col("urn"),
            F.when(F.col("kind") != "urn", F.col("urn")).alias("cand_urn"),
        )
        .groupBy("bkey", "entity_type")
        .agg(
            F.sort_array(F.collect_set("urn")).alias("urns"),
            F.sort_array(F.collect_set("cand_urn")).alias("cand"),
        )
    )
    dictj = grouped.join(
        F.broadcast(
            alias_dict.select(F.col("alias_norm").alias("bkey"), "canonical_urn")
        ),
        "bkey",
        "left",
    )
    # same-blocking-key star pairs (0.9): slice(urns, 2, size-1) vs the
    # group minimum; empty when the group holds a single URN
    star = F.transform(
        F.expr("slice(urns, 2, size(urns) - 1)"),
        lambda u: F.struct(
            u.alias("src"),
            F.col("urns")[0].alias("dst"),
            F.lit(0.9).alias("confidence"),
        ),
    )
    # dictionary-hit pairs (1.0): every non-urn candidate under the key ->
    # its canonical; empty when the key has no dictionary entry
    hits = F.filter(
        F.transform(
            "cand",
            lambda u: F.struct(
                u.alias("src"),
                F.col("canonical_urn").alias("dst"),
                F.lit(1.0).alias("confidence"),
            ),
        ),
        lambda s: F.col("canonical_urn").isNotNull() & (s["src"] != s["dst"]),
    )
    pairs = dictj.select(F.explode(F.concat(star, hits)).alias("p")).select(
        "p.src", "p.dst", F.col("p.confidence").alias("confidence")
    )
    return pairs.filter(F.col("confidence") >= confidence_threshold).select(
        "src", "dst"
    )


def canonicalize_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    confidence_threshold: float = 0.85,
) -> tuple[DataFrame, DataFrame]:
    """Full canonicalization: type norm -> coref pairs -> CC -> rewrite.

    Returns (canonical mentions, canonical_map).  After the URN rewrite the
    canonical entity inherits the dictionary's display name/type where a
    dictionary canonical won (J4 coalesce, agent_deduplicator.py:344-378):
    the per-``canonical_urn`` minimum of ``entity_type`` and of
    ``canonical_name``, one vocabulary-sized aggregate whose ``urn``
    column is also the preferred-representative set."""
    # typed is NOT persisted: it is a per-row map lookup over the
    # (persisted) mention frame, so recomputing it for pair generation and
    # for the final rewrite is cheaper than a corpus-sized cache write
    typed = apply_type_normalization(mentions, build_type_normalization(mentions))
    dict_meta = alias_dict.groupBy(F.col("canonical_urn").alias("urn")).agg(
        F.min("entity_type").alias("_dict_type"),
        F.min("canonical_name").alias("_dict_name"),
    )
    pairs = coreference_pairs(typed, alias_dict, confidence_threshold)
    cmap = canonical_map(pairs, preferred=dict_meta.select("urn"))

    rewritten = (
        typed.withColumnRenamed("urn", "member_urn")
        .join(F.broadcast(cmap), "member_urn", "left")
        .withColumn("urn", F.coalesce(F.col("canonical_urn"), F.col("member_urn")))
        .drop("member_urn", "canonical_urn")
    )
    if "subj_urn" in rewritten.columns:
        # anchors are E1 urns; route them through the same canonical map,
        # joined as an aliased self-join so both joins share one broadcast
        # (a renamed projection of cmap would build a second one)
        s = F.broadcast(cmap.alias("s"))
        subj = F.coalesce(F.col("s.canonical_urn"), F.col("subj_urn"))
        rewritten = rewritten.join(
            s, F.col("subj_urn") == F.col("s.member_urn"), "left"
        ).select(
            *(subj.alias(c) if c == "subj_urn" else c for c in rewritten.columns)
        )

    # Dictionary metadata wins for canonical entities: overwrite
    # entity_type/name where urn is a dictionary canonical.  The stored
    # column order puts the rewritten keys first (urn, subj_urn,
    # entity_type); the other mention columns keep their input order.
    lead = [c for c in ("urn", "subj_urn", "entity_type") if c in rewritten.columns]
    final = (
        rewritten.join(F.broadcast(dict_meta), "urn", "left")
        .withColumns(
            {
                "entity_type": F.coalesce(F.col("_dict_type"), F.col("entity_type")),
                "name": F.coalesce(F.col("_dict_name"), F.col("name")),
            }
        )
        .select(*lead, *(c for c in rewritten.columns if c not in lead))
    )
    return final, cmap
