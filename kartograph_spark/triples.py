"""(subj, pred, obj) triple emission — the output contract.

Mirrors the reference's N-Quads conversion exactly
(/root/reference/extraction/load_dgraph.py:273-417):

- one ``dgraph.type`` triple per entity (emitted verbatim, bypassing
  predicate cleaning, load_dgraph.py:284-290);
- uid triples for entity references (obj_is_ref=true, dtype='uid');
- typed-literal triples for scalars (dtype in string/int/float/bool) with
  the reference's literal formatting (bool lowercased, load_dgraph.py:395-400);
- predicate-name cleaning (strip '@', ``$:/\\`` -> '_', reserved ``uid`` /
  ``dgraph.`` guard, load_dgraph.py:357-382);
- string-literal escaping + sanitization (drop strings containing
  ``{}[]`` or equal to 'None', load_dgraph.py:384-417);
- URN percent-encoding keeping ':' on subj and ref objects
  (load_dgraph.py:351-355);
- mixed-type predicate resolution: uid beats scalar — scalar triples on a
  uid predicate are dropped in a second pass (load_dgraph.py:172-206,324-346).

All transforms are JVM-side column expressions (whole-stage codegen); the
only shuffles are the final first-occurrence dedup aggregation (A1/A2,
map-side combinable) and the tiny uid-predicate broadcast.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from kartograph_spark.rules import _URN_ENCODE_CHAIN

PROV_COLS = ("conv_id", "turn_idx", "kind_rank", "match_idx")


# -- Spark mirrors of the vectorized string rules (rules.py) ---------------

def encode_urn_col(c: Column) -> Column:
    """Percent-encode keeping ':' (load_dgraph.py:351-355)."""
    for ch, rep in _URN_ENCODE_CHAIN:
        c = F.regexp_replace(c, _re.escape(ch), rep.replace("\\", "\\\\"))
    return c


def clean_predicate_col(c: Column) -> Column:
    """load_dgraph.py:357-382."""
    c = F.regexp_replace(c, r"^@+", "")
    c = F.regexp_replace(c, r"[$:/\\]", "_")
    c = F.when(c == "uid", F.lit("_uid")).otherwise(c)
    return F.when(c.startswith("dgraph."), F.concat(F.lit("_"), c)).otherwise(c)


def escape_literal_col(c: Column) -> Column:
    """Backslash, quote, newline escaping (load_dgraph.py:401-407)."""
    c = F.regexp_replace(c, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    return F.regexp_replace(c, "\n", r"\\n")


def literal_kept_col(c: Column) -> Column:
    """Sanitization filter (load_dgraph.py:408-417): keep literal unless it
    contains braces/brackets or equals 'None'."""
    return ~(c.rlike(r"[{}\[\]]") | (c == "None"))


def conv_subject_col() -> Column:
    return F.concat(F.lit("urn:Conversation:"), F.col("conv_id"))


# -- Triple builders --------------------------------------------------------

def _with_prov(df: DataFrame, turn_idx, kind_rank, match_idx) -> DataFrame:
    return (
        df.withColumn("turn_idx", turn_idx.cast("long"))
        .withColumn("kind_rank", kind_rank.cast("long"))
        .withColumn("match_idx", match_idx.cast("long"))
    )


def mention_triples(mentions: DataFrame) -> DataFrame:
    """Canonicalized mentions -> edge + node-attribute triples (un-deduped).

    Output: (subj, pred, obj, obj_is_ref, dtype, conv_id, turn_idx,
    kind_rank, match_idx).

    Single pass: one explode of a 3-struct array per mention instead of a
    3-way union — a union re-evaluates the upstream mention/canonical plan
    once per branch, tripling the map work on a corpus-sized frame.
    """
    trip = lambda subj, pred, obj, is_ref, dtype: F.struct(  # noqa: E731
        subj.alias("subj"),
        pred.alias("pred"),
        obj.alias("obj"),
        is_ref.alias("obj_is_ref"),
        dtype.alias("dtype"),
    )
    escaped_name = escape_literal_col(F.col("name"))
    # Edge subject: the attributed entity anchor for verb-pattern
    # relationship mentions (reference output contract — uid triples hang
    # off extracted entities, load_dgraph.py:299-309), falling back to the
    # Conversation subject for plain mentions / anchorless verb mentions.
    edge_subj = F.coalesce(F.col("subj_urn"), conv_subject_col())
    edge_pred = clean_predicate_col(F.col("pred"))
    if "confidence" in mentions.columns:
        # MEDIUM tier (PROCESS.md:2149-2156): the entity is extracted —
        # node triples + a plain `mentions` edge from the Conversation —
        # but the indirect relationship is NOT auto-created; it goes to
        # the review_flags side table (validation.review_flags) instead.
        is_med = F.col("confidence") == F.lit("MEDIUM")
        edge_subj = F.when(is_med, conv_subject_col()).otherwise(edge_subj)
        edge_pred = F.when(is_med, F.lit("mentions")).otherwise(edge_pred)
    exploded = mentions.select(
        F.explode(
            F.array(
                trip(
                    edge_subj,
                    edge_pred,
                    F.col("urn"),
                    F.lit(True),
                    F.lit("uid"),
                ),
                trip(
                    # dgraph.type emitted verbatim, load_dgraph.py:284-290
                    F.col("urn"),
                    F.lit("dgraph.type"),
                    F.col("entity_type"),
                    F.lit(False),
                    F.lit("string"),
                ),
                trip(
                    F.col("urn"),
                    F.lit("name"),
                    # sanitized literal -> NULL marks a dropped name triple
                    F.when(literal_kept_col(escaped_name), escaped_name),
                    F.lit(False),
                    F.lit("string"),
                ),
            )
        ).alias("t"),
        *PROV_COLS,
    )
    return exploded.filter(F.col("t.obj").isNotNull()).select(
        "t.subj", "t.pred", "t.obj", "t.obj_is_ref", "t.dtype", *PROV_COLS
    )


def conversation_triples(
    transcripts: DataFrame, corpus: Observation | None = None
) -> DataFrame:
    """Per-conversation entity record with typed scalar literals.

    Gives the triple set dtype diversity matching the reference's literal
    formats (load_dgraph.py:384-400): int (turn_count), float
    (avg_gap_secs), bool (has_tool_calls), string (name, started_at).
    Single map-side-combinable aggregation, then ONE explode of a 6-struct
    array — not a 6-way union (which re-evaluates the corpus aggregation
    once per branch).

    ``corpus``, if given, observes the whole-corpus counts on the
    one-row-per-conversation aggregate: ``conversations`` (its rows) and
    ``turns`` (the sum of its per-conversation row counts, i.e. the rows
    of its input) — exact, and free on the job that runs the aggregate.
    """
    agg = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("turn_count"),
        F.min("turn_idx").alias("first_turn"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.max(F.col("tool").isNotNull()).alias("has_tool"),
    )
    if corpus is not None:
        agg = agg.observe(
            corpus,
            F.coalesce(F.sum("turn_count"), F.lit(0)).alias("turns"),
            F.count(F.lit(1)).alias("conversations"),
        )

    def trip(pred: str, obj: Column, dtype: str) -> Column:
        return F.struct(
            F.lit(pred).alias("pred"), obj.alias("obj"), F.lit(dtype).alias("dtype")
        )

    # try_divide: single-turn conversations have no gap -> NULL obj ->
    # row dropped below (ANSI mode would otherwise fail the whole job)
    gap = F.round(
        F.try_divide(
            F.unix_timestamp("max_ts") - F.unix_timestamp("min_ts"),
            F.col("turn_count") - 1,
        ),
        2,
    ).cast("string")
    exploded = agg.select(
        "conv_id",
        F.col("first_turn").cast("long").alias("turn_idx"),
        F.explode(
            F.array(
                trip("dgraph.type", F.lit("Conversation"), "string"),
                trip("name", F.col("conv_id"), "string"),
                trip("turn_count", F.col("turn_count").cast("string"), "int"),
                trip(
                    "started_at",
                    F.date_format("min_ts", "yyyy-MM-dd'T'HH:mm:ss"),
                    "string",
                ),
                trip(
                    "has_tool_calls",
                    F.when(F.col("has_tool"), "true").otherwise("false"),
                    "bool",
                ),
                trip("avg_gap_secs", gap, "float"),
            )
        ).alias("t"),
    )
    return exploded.filter(F.col("t.obj").isNotNull()).select(
        conv_subject_col().alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        F.lit(False).alias("obj_is_ref"),
        F.col("t.dtype").alias("dtype"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.lit(-1).cast("long").alias("kind_rank"),
        F.lit(0).cast("long").alias("match_idx"),
    )


def dedup_first_occurrence(triples: DataFrame, keep: str = "first") -> DataFrame:
    """Operator A1/A2 + W1: distinct (subj,pred,obj) with first-emission
    provenance under stable (conv_id, turn_idx, kind_rank, match_idx) order.

    Merge semantics match urn_deduplicator.py:102-156: conflicting (pred,
    obj) values survive as distinct triples (union of distinct pairs);
    first occurrence wins provenance.  ``keep='last'`` flips the
    provenance pick to the latest emission (urn_merge_strategy 'last',
    urn_deduplicator.py:83-85) — same single aggregation.

    The (turn_idx, kind_rank, match_idx) tail of the ordering is packed
    into one long (order-preserving: kind_rank >= -1 offset by 1,
    match_idx capped below 2^20) so the min-struct aggregation buffer is
    (string, long) instead of (string, long, long, long) — ~1/3 the sort
    and shuffle bytes of the corpus-sized aggregation.
    """
    # the 5-bit kind_rank field (stride 1<<20 under the 1<<25 turn_idx
    # stride) holds ranks -1..30 after the +1 offset — fail loudly if a
    # new kind ever overflows it (would corrupt ordering + unpacking);
    # turn_idx keeps 38 bits, far above any conversation length
    from kartograph_spark import rules as _rules

    assert max(_rules.KIND_RANK.values()) < 31, "kind_rank overflows packed field"
    if keep not in ("first", "last"):
        raise ValueError(f"unknown dedup keep strategy: {keep}")
    pick = F.min if keep == "first" else F.max
    packed = (
        F.col("turn_idx") * F.lit(1 << 25)
        + (F.col("kind_rank") + 1) * F.lit(1 << 20)
        + F.least(F.col("match_idx"), F.lit((1 << 20) - 1))
    )
    return (
        triples.withColumn("_pk", packed)
        .groupBy("subj", "pred", "obj", "obj_is_ref", "dtype")
        .agg(pick(F.struct("conv_id", "_pk")).alias("prov"))
        .select(
            "subj",
            "pred",
            "obj",
            "obj_is_ref",
            "dtype",
            F.col("prov.conv_id").alias("conv_id"),
            F.shiftright(F.col("prov._pk"), 25).alias("turn_idx"),
        )
    )


def collect_uid_predicates(triples: DataFrame) -> list[str]:
    """Distinct predicates observed as uid — tiny by construction.  When
    ``triples`` is freshly persisted, this collect doubles as the eager
    cache materialization (one action instead of count + collect)."""
    return [
        r["pred"]
        for r in triples.filter(F.col("obj_is_ref")).select("pred").distinct().collect()
    ]


def apply_uid_resolution(triples: DataFrame, uid_preds: list[str]) -> DataFrame:
    """Filter step of the uid > scalar resolution given a precollected
    predicate set (pure column predicate, no extra job)."""
    if not uid_preds:
        return triples
    # pred.isNull() guard: NULL ~isin(...) is NULL and would silently drop
    # null-predicate scalars (unreachable with clean_predicate_col output,
    # but preserve the anti-join semantics this replaced)
    return triples.filter(
        F.col("obj_is_ref")
        | F.col("pred").isNull()
        | ~F.col("pred").isin(uid_preds)
    )


def resolve_mixed_type_predicates(triples: DataFrame) -> DataFrame:
    """uid > scalar resolution (load_dgraph.py:172-206, 324-346): drop
    scalar triples whose predicate is observed as uid anywhere.

    The uid-predicate set is tiny (distinct predicate names): collect it
    to the driver (map-side partial distinct -> tiny shuffle) and inline
    the exclusion as an isin predicate — avoids a BroadcastExchange whose
    single-task build stage sits on the critical path.
    """
    return apply_uid_resolution(triples, collect_uid_predicates(triples))


def encode_final(triples: DataFrame) -> DataFrame:
    """Percent-encode subj and ref objects (load_dgraph.py:351-355)."""
    return triples.withColumn("subj", encode_urn_col(F.col("subj"))).withColumn(
        "obj",
        F.when(F.col("obj_is_ref"), encode_urn_col(F.col("obj"))).otherwise(
            F.col("obj")
        ),
    )


def to_nquads(triples: DataFrame) -> DataFrame:
    """Render N-Quad lines (load_dgraph.py:273-349 formatting): one string
    column ``nquad``.  Export sink: ``df.write.text`` replaces the
    reference's `dgraph live` subprocess (S6)."""
    lit_suffix = {
        "bool": "^^<xs:boolean>",
        "int": "^^<xs:int>",
        "float": "^^<xs:float>",
    }
    obj_rendered = F.when(
        F.col("obj_is_ref"), F.concat(F.lit("<"), F.col("obj"), F.lit(">"))
    )
    for dt, suf in lit_suffix.items():
        obj_rendered = obj_rendered.when(
            F.col("dtype") == dt,
            F.concat(F.lit('"'), F.col("obj"), F.lit('"' + suf)),
        )
    obj_rendered = obj_rendered.otherwise(
        F.concat(F.lit('"'), F.col("obj"), F.lit('"'))
    )
    return triples.select(
        F.concat(
            F.lit("<"),
            F.col("subj"),
            F.lit("> <"),
            F.col("pred"),
            F.lit("> "),
            obj_rendered,
            F.lit(" ."),
        ).alias("nquad")
    )
