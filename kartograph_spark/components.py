"""Distributed connected components — large-star / small-star.

Canonicalization of coreferent entities is a transitive closure over the
pair set (SURVEY.md §2.6; reference applies duplicate_groups maps
incrementally, agent_deduplicator.py:337-389, which chains across rounds —
the closure is exactly connected components).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", CIKM'14) — O(log n)
rounds, each round two shuffles (groupBy min + join), no GraphFrames
dependency.  Each round is ``localCheckpoint``-ed to cut lineage so the
plan stays bounded on skewed celebrity components (SURVEY.md §7.4).

Scale note: star operations emit at most |E| edges per round and the
min-aggregation is a map-side-combinable groupBy, so the loop survives a
100x scale-up; the convergence check is an O(1)-result aggregate
(count + xor-ish hash sum), not a collect of the edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MAX_ROUNDS = 25

#: persisted intermediates from the graph-analytics operators below
#: (triangle_counts / two_hop_reach_*).  The frames must outlive the
#: function (the returned plan reads them lazily), so the operators
#: cannot unpersist them — CALLERS OWN THE CACHE LIFETIME: call
#: ``release_caches()`` after the terminal action when running many
#: graph queries in one session, or blocks accumulate until session end.
_PERSISTED: list[DataFrame] = []


def _track(df: DataFrame) -> DataFrame:
    """persist (MEMORY_AND_DISK — Spark's DataFrame default, spill-safe
    on large graphs) and register for release_caches()."""
    _PERSISTED.append(df.persist())
    return df


def release_caches() -> int:
    """Unpersist every intermediate cached by the graph operators;
    returns how many were released.  Safe across stopped sessions
    (dead JVM handles are skipped)."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n

#: below this many pairs, transitive closure runs as a driver-side
#: union-find (one collect) instead of the iterative distributed loop —
#: the same size-based strategy choice AQE makes for broadcast joins.
#: Coreference pair sets are entity-vocabulary-sized, so even 10^12-turn
#: corpora typically stay under this; the distributed path remains for
#: adversarial cases (celebrity components).
DRIVER_UNION_FIND_MAX = 2_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    joined = sym.join(mins, "u")
    return (
        joined.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(mins, "u")
    out = joined.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edge = joined.select(F.col("u"), F.col("m").alias("v"))
    return out.union(self_edge).filter(F.col("u") != F.col("v")).distinct()


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _union_find(edge_rows) -> dict[str, str]:
    """Path-halving union-find over collected (u, v) pairs; returns the
    parent forest (callers run find() for full compression)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_rows:
        ra, rb = find(u), find(v)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return parent


def _uf_find(parent: dict[str, str], x: str) -> str:
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def _collect_if_small(pairs: DataFrame, cap: int):
    """Size-probe: collect the pair set when it fits the driver (list of
    (u, v) tuples; None otherwise).  One bounded action: ``limit(cap + 1)``
    collected once, and more than ``cap`` rows back means the set is over
    the cap.  Under AQE the upstream shuffle stages materialize once before
    the limit runs, so the limit does not re-run them; and the collect goes
    through Arrow (toPandas), one job for the final stage instead of the
    incremental partition escalation of ``limit().collect()``.  Arrow also
    keeps the driver-side row materialization (the serial term the
    executors cannot share, Amdahl) ~5x cheaper per row.  The cap counts
    pair rows, so a pair that repeats counts once per copy."""
    pdf = (
        pairs.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .limit(cap + 1)
        .toPandas()
    )
    if len(pdf) > cap:
        return None
    return list(zip(pdf["u"], pdf["v"]))


def connected_components(
    pairs: DataFrame,
    max_driver_edges: int | None = None,
    _assume_large: bool = False,
) -> DataFrame:
    """pairs(src, dst) -> labels(member, component) with component = min id.

    Includes a self row (component, component) for each component root, so
    every node seen in ``pairs`` appears exactly once in the output.

    ``_assume_large``: internal — the caller already size-probed the pair
    set and found it over the cap, so skip the (corpus-sized) re-probe.
    """
    cap = DRIVER_UNION_FIND_MAX if max_driver_edges is None else max_driver_edges
    small = None if _assume_large else _collect_if_small(pairs, cap)
    if small is not None:
        import pandas as pd

        parent = _union_find(small)
        pdf = pd.DataFrame(
            {"member": list(parent)},
        )
        pdf["component"] = [_uf_find(parent, m) for m in pdf["member"]]
        # Arrow-path createDataFrame: per-row pickling of a 10^5-row map
        # is driver-serial time charged against the 4N side
        return pairs.sparkSession.createDataFrame(
            pdf, schema="member string, component string"
        )

    edges = (
        pairs.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig = _signature(edges)
    for _ in range(MAX_ROUNDS):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        new_sig = _signature(edges)
        if new_sig == sig:
            break
        sig = new_sig

    # After convergence edges form stars (member -> component min).
    members = edges.select(
        F.col("u").alias("member"), F.col("v").alias("component")
    )
    roots = edges.select(F.col("v").alias("member"), F.col("v").alias("component"))
    return members.union(roots).distinct()


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """pairs(src, dst) -> (node, n_triangles): per-node triangle
    participation over the undirected distinct edge set — the local
    clustering signal of the constructed graph (hub vs clique detection).

    Degree-oriented wedge enumeration (Schank & Wagner's forward
    algorithm as joins): every edge is oriented from its (degree, id)-
    smaller endpoint to the larger, wedges are enumerated only at each
    triangle's LOWEST-degree vertex, and the closing edge is a single
    equi-join probe.  Work is sum(out_deg^2) with out_deg <= O(sqrt(|E|))
    — a celebrity hub of degree d contributes O(|E|) wedges instead of
    the O(d^2) a naive id-ordered orientation would enumerate, so the
    plan survives skewed graphs at 100x.  Three shuffles total (degree
    agg, wedge self-join, closing-edge join); the triangle SET is
    orientation-independent, so an id-ordered oracle reproduces the
    counts exactly.
    """
    # und feeds both the degree agg and the edge-rank join; oriented (below)
    # feeds the wedge self-join twice plus the closing-edge probe — persist
    # both so the upstream (at the call sites, the whole KG pipeline) runs
    # once instead of 3-5x.
    und = (
        pairs.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    und = _track(und)
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # total order by (degree, id) encoded as one sortable string so the
    # orientation and the wedge ordering use a single comparable column
    ranked = deg.select(
        "node",
        F.concat(
            F.lpad(F.col("deg").cast("string"), 12, "0"), F.lit("|"), F.col("node")
        ).alias("rank"),
    )
    e = und.join(
        ranked.select(F.col("node").alias("u"), F.col("rank").alias("rank_u")), "u"
    ).join(
        ranked.select(F.col("node").alias("v"), F.col("rank").alias("rank_v")), "v"
    )
    lower_first = F.col("rank_u") < F.col("rank_v")
    oriented = _track(
        e.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.greatest("rank_u", "rank_v").alias("rank_b"),
        )
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y, (F.col("x.a") == F.col("y.a")) & (F.col("x.rank_b") < F.col("y.rank_b"))
    ).select(
        F.col("x.a").alias("a"), F.col("x.b").alias("b"), F.col("y.b").alias("c")
    )
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


#: production hub cap for two_hop_reach_approx — a degree-d middle node
#: contributes min(d, cap) wedge rows per in-neighbor instead of d
TWO_HOP_HUB_CAP = 10_000


def symmetric_edges(pairs: DataFrame) -> DataFrame:
    """pairs(src, dst) -> distinct undirected edge list (a, b), no loops."""
    return (
        pairs.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(pairs.select("dst", "src"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def two_hop_reach_exact(pairs: DataFrame) -> DataFrame:
    """Per-node exact 2-hop neighborhood size: |{nodes reachable in <= 2
    hops}| excluding the node itself.

    Exact ``count_distinct`` over the wedge self-join: a degree-d hub
    materializes ~d^2 candidate rows before the aggregation, so this form
    is for oracle-checkable correctness and moderate-degree graphs; the
    100 TB production entry point is ``two_hop_reach_approx`` below.  The
    one-hop frame is persisted so both sides of the self-join reuse one
    computation."""
    sym = _track(symmetric_edges(pairs))
    two = (
        sym.alias("x")
        .join(sym.alias("y"), F.col("x.b") == F.col("y.a"))
        .select(F.col("x.a").alias("a"), F.col("y.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    return (
        sym.unionAll(two)
        .groupBy("a")
        .agg(F.count_distinct("b").alias("n_reach"))
        .select(F.col("a").alias("urn"), "n_reach")
    )


#: salt-group fan-out bounds for the distributed hub top-k (_capped_mid):
#: S scales with the observed max hub degree so a salt group's
#: collect_list buffer stays <= _HUB_GROUP_TARGET neighbor strings
#: (~25 MB at ~100-byte URNs — aggregation buffers cannot spill
#: mid-group, so this bound IS the memory guarantee), clamped to
#: [64, 4096] (4096 groups bound a 10^9-degree hub's groups at ~244k)
_HUB_TOPK_SALTS = 64
_HUB_TOPK_MAX_SALTS = 4096
_HUB_GROUP_TARGET = 1 << 18


def _capped_mid(sym: DataFrame, hub_cap: int) -> DataFrame:
    """Deterministic per-node neighbor cap WITHOUT a full per-key sort:
    keep the ``hub_cap`` id-smallest neighbors of every node.

    The naive Window.partitionBy(a).orderBy(b) + row_number form sorts a
    hub's ENTIRE edge list in one task before capping — at 10^9-degree
    production hubs the skewed single-partition sort is itself the
    straggler the cap exists to prevent.  Tournament top-k instead:

      1. degree count (map-side combinable) -> hub set (deg > cap); no
         hubs -> the whole cap is a no-op, return sym untouched;
      2. non-hub edges pass through UNTOUCHED (no sort, no agg buffer);
      3. hub edges split into S deterministic salt groups, S =
         clamp(ceil(max_deg / _HUB_GROUP_TARGET), 64, 4096) — each
         group reduces to its cap smallest via
         slice(sort_array(collect_list)) with a bounded (~25 MB)
         non-spillable buffer, S groups in parallel instead of one task
         sorting d rows;
      4. the union of per-group winners (<= S*cap rows per hub) takes
         one exact window — a SPILLABLE ExternalSorter sort of at most
         S*cap (~41M rows at S=4096, cap=10^4; 25x under the 10^9-row
         single-task sort it replaces, and bounded regardless of d).

    The global cap-smallest set is contained in the union of per-group
    cap-smallest sets, so the result is IDENTICAL to the single-window
    form (pinned by pytest) — only the physical plan changes.
    """
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # vocabulary-sized (hub nodes only); _track registers it for the
    # caller-owned release_caches() like the other graph caches
    hub_deg = _track(deg.filter(F.col("deg") > hub_cap))
    max_deg = hub_deg.agg(F.max("deg")).collect()[0][0]
    if max_deg is None:
        return sym  # no node exceeds the cap — nothing to truncate
    n_salts = max(
        _HUB_TOPK_SALTS,
        min(_HUB_TOPK_MAX_SALTS, -(-max_deg // _HUB_GROUP_TARGET)),
    )
    hubs = hub_deg.select("a")
    nonhub = sym.join(hubs, "a", "left_anti")
    hubrows = sym.join(hubs, "a", "left_semi")
    grp = (
        hubrows.groupBy(
            "a", F.pmod(F.xxhash64("b"), F.lit(n_salts)).alias("_g")
        )
        .agg(
            F.slice(
                F.sort_array(F.collect_list("b")), 1, hub_cap
            ).alias("_tb")
        )
    )
    cand = grp.select("a", F.explode("_tb").alias("b"))
    w = Window.partitionBy("a").orderBy("b")
    capped = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= hub_cap)
        .drop("_rn")
    )
    return nonhub.unionAll(capped)


def two_hop_reach_capped_exact(
    pairs: DataFrame, hub_cap: int = TWO_HOP_HUB_CAP
) -> DataFrame:
    """Hub-capped 2-hop reach with an EXACT distinct count: the
    production cap logic (deterministic id-smallest ``hub_cap`` neighbors
    per middle node, via the tournament top-k) with count_distinct
    instead of HLL — deterministic and SQL-expressible, so the driver
    oracle hash-checks the cap semantics that two_hop_reach_approx
    applies under HLL.  Nodes routing through a capped hub report the
    same one-sided lower bound as the approx form.

    Building the plan is not lazy: the hub cap (``_capped_mid``) runs an
    eager max-degree job and persists the symmetric edges and the hub
    degrees (released by ``release_caches``)."""
    sym = _track(symmetric_edges(pairs))
    mid = _capped_mid(sym, hub_cap)
    two = (
        sym.alias("x")
        .join(mid.alias("y"), F.col("x.b") == F.col("y.a"))
        .select(F.col("x.a").alias("a"), F.col("y.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    return (
        sym.unionAll(two)
        .groupBy("a")
        .agg(F.count_distinct("b").alias("n_reach"))
        .select(F.col("a").alias("urn"), "n_reach")
    )


def two_hop_reach_approx(
    pairs: DataFrame, hub_cap: int = TWO_HOP_HUB_CAP, rsd: float = 0.05
) -> DataFrame:
    """Scale-safe 2-hop neighborhood size: HyperLogLog++ cardinality
    (``approx_count_distinct``, relative std dev ``rsd``) over a
    hub-capped wedge expansion.

    Two changes vs the exact form, each attacking one scale killer:

    - **HLL instead of count_distinct**: the exact aggregation keeps
      every distinct (a, b) pair in the hash aggregate — O(sum of
      neighborhood sizes) state, which is the d^2 blow-up again on the
      agg side.  HLL state is a constant ~kilobytes per node at any
      neighborhood size, and partial-aggregates map-side.
    - **hub fan-out cap**: the join-side explosion is bounded by keeping
      only the ``hub_cap`` (by id, deterministic) smallest neighbors per
      MIDDLE node — a degree-d hub emits min(d, cap) wedge rows per
      in-edge instead of d.  Nodes whose true 2-hop set routes through a
      capped hub report a lower bound; at the default cap that needs a
      >10^4-degree hub, and the error is one-sided and documented, the
      standard trade (GraphFrames/Pregel samplers make the same one).

    Exactness: with ``hub_cap`` >= the max degree the capped expansion is
    the full wedge set and the only error is HLL's (±rsd); the pytest
    pins both regimes against ``two_hop_reach_exact`` on the synth KG.

    Building the plan is not lazy: the hub cap (``_capped_mid``) runs an
    eager max-degree job and persists the symmetric edges and the hub
    degrees (released by ``release_caches``).
    """
    sym = _track(symmetric_edges(pairs))
    mid = _capped_mid(sym, hub_cap)
    two = (
        sym.alias("x")
        .join(mid.alias("y"), F.col("x.b") == F.col("y.a"))
        .select(F.col("x.a").alias("a"), F.col("y.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    return (
        sym.unionAll(two)
        .groupBy("a")
        .agg(F.approx_count_distinct("b", rsd).alias("n_reach"))
        .select(F.col("a").alias("urn"), "n_reach")
    )


def canonical_map(
    pairs: DataFrame,
    preferred: DataFrame | None = None,
    max_driver_edges: int | None = None,
) -> DataFrame:
    """Coreference pairs -> rewrite map (member_urn, canonical_urn).

    The representative of each component is the minimum URN, except that
    URNs present in ``preferred`` (a one-column ``urn`` DataFrame of alias-
    dictionary canonicals, or None) win first — mirroring the reference's
    primary_urn taking precedence inside a duplicate group
    (agent_deduplicator.py:344-378).  Identity rows are filtered out, so
    the result is small (only actually-merged entities) and broadcastable.

    Fast path: when the pair set fits in the driver (entity-vocabulary-
    sized — the normal case even at 10^12 turns) the whole map is computed
    from the collected edges plus, when there are any, the collected
    ``preferred`` column (dictionary-vocabulary-sized); the distributed
    path with the reps groupBy/join remains for adversarial pair sets.
    """
    cap = DRIVER_UNION_FIND_MAX if max_driver_edges is None else max_driver_edges
    small = _collect_if_small(pairs, cap)
    if small is not None:
        import pandas as pd

        spark = pairs.sparkSession
        if not small:
            return spark.createDataFrame(
                [], "member_urn string, canonical_urn string"
            )
        parent = _union_find(small)
        pref = set() if preferred is None else {r["urn"] for r in preferred.collect()}
        comp: dict[str, list[str]] = {}
        for m in parent:
            comp.setdefault(_uf_find(parent, m), []).append(m)
        out: list[tuple[str, str]] = []
        for members in comp.values():
            canon = min((m not in pref, m) for m in members)[1]
            out.extend((m, canon) for m in members if m != canon)
        pdf = pd.DataFrame(out, columns=["member_urn", "canonical_urn"])
        return spark.createDataFrame(
            pdf, schema="member_urn string, canonical_urn string"
        )

    labels = connected_components(
        pairs, max_driver_edges=max_driver_edges, _assume_large=True
    )
    if preferred is not None:
        pref = preferred.select(F.col("urn").alias("member"), F.lit(0).alias("tier"))
        labels = labels.join(F.broadcast(pref), "member", "left").withColumn(
            "tier", F.coalesce(F.col("tier"), F.lit(1))
        )
    else:
        labels = labels.withColumn("tier", F.lit(1))

    reps = labels.groupBy("component").agg(
        F.min(F.struct("tier", "member")).alias("best")
    ).select("component", F.col("best.member").alias("canonical_urn"))

    return (
        labels.join(reps, "component")
        .select(F.col("member").alias("member_urn"), "canonical_urn")
        .filter(F.col("member_urn") != F.col("canonical_urn"))
        .distinct()
    )
