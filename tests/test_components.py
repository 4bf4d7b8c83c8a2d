"""Connected components + canonical map (SURVEY.md §2.6; FIXTURES F4
coreference-chain case: A≡B in conv 1, B≡C in conv 2 -> one component)."""

from kartograph_spark.components import canonical_map, connected_components


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_transitive_chain(spark):
    labels = connected_components(
        _pairs(spark, [("b", "a"), ("c", "b"), ("e", "d")])
    )
    got = {(r["member"], r["component"]) for r in labels.collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")}


def test_long_chain_converges(spark):
    n = 40
    rows = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    labels = connected_components(_pairs(spark, rows))
    comps = {r["component"] for r in labels.collect()}
    assert comps == {"n000"}
    assert labels.count() == n + 1


def test_canonical_map_min_urn(spark):
    cmap = canonical_map(_pairs(spark, [("urn:T:b", "urn:T:a"), ("urn:T:c", "urn:T:b")]))
    got = {(r["member_urn"], r["canonical_urn"]) for r in cmap.collect()}
    assert got == {("urn:T:b", "urn:T:a"), ("urn:T:c", "urn:T:a")}


def test_canonical_map_prefers_dictionary(spark):
    # min urn would be urn:A:x, but urn:Z:canon is a dictionary canonical
    pairs = _pairs(spark, [("urn:A:x", "urn:Z:canon")])
    pref = spark.createDataFrame([("urn:Z:canon",)], "urn string")
    cmap = canonical_map(pairs, preferred=pref)
    got = {(r["member_urn"], r["canonical_urn"]) for r in cmap.collect()}
    assert got == {("urn:A:x", "urn:Z:canon")}


def test_empty_pairs(spark):
    cmap = canonical_map(_pairs(spark, []))
    assert cmap.count() == 0


def test_distributed_path_matches_driver_path(spark):
    rows = [(f"u{i:02d}", f"u{i + 1:02d}") for i in range(0, 30, 2)] + [
        ("u01", "u02"),
        ("u15", "u16"),
    ]
    dist = connected_components(_pairs(spark, rows), max_driver_edges=0)
    drv = connected_components(_pairs(spark, rows))
    assert {tuple(r) for r in dist.collect()} == {tuple(r) for r in drv.collect()}


def test_driver_cut_at_the_cap(spark, monkeypatch):
    """``max_driver_edges`` pairs stay on the driver path, one more goes
    distributed (self-loops do not count), both paths give the same
    canonical map, and the size probe leaves no persisted RDD behind."""
    from kartograph_spark import components

    rows = [(f"urn:T:n{i}", f"urn:T:n{i + 1}") for i in range(5)]
    rows += [("urn:T:m1", "urn:T:m0"), ("urn:T:x", "urn:T:x")]
    pairs = _pairs(spark, rows)
    cap = len(rows) - 1  # the pair rows that are not self-loops

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    assert sorted(components._collect_if_small(pairs, cap)) == sorted(rows[:-1])
    assert components._collect_if_small(pairs, cap - 1) is None
    assert persisted() == before

    distributed = []
    cc = components.connected_components
    monkeypatch.setattr(
        components,
        "connected_components",
        lambda *a, **kw: distributed.append(1) or cc(*a, **kw),
    )
    drv = canonical_map(pairs, max_driver_edges=cap)
    assert not distributed
    dist = canonical_map(pairs, max_driver_edges=cap - 1)
    assert distributed
    got = {tuple(r) for r in drv.collect()}
    assert got == {tuple(r) for r in dist.collect()}
    assert got == {(f"urn:T:n{i}", "urn:T:n0") for i in range(1, 6)} | {
        ("urn:T:m1", "urn:T:m0")
    }


def test_triangle_counts_k4_plus_star(spark):
    from kartograph_spark.components import triangle_counts

    # K4 on a,b,c,d: 4 triangles, each vertex in exactly 3.
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    # star hub h -> s1..s4: no triangles at all.
    star = [("h", f"s{i}") for i in range(4)]
    got = {
        (r["node"], r["n_triangles"])
        for r in triangle_counts(_pairs(spark, k4 + star)).collect()
    }
    assert got == {("a", 3), ("b", 3), ("c", 3), ("d", 3)}


def test_two_hop_approx_tracks_exact(spark):
    """two_hop_reach_approx vs two_hop_reach_exact on a KG-shaped graph
    (hub + chain + clique).  With an uncapped hub the only error is
    HLL's; rsd=0.02 keeps every estimate within 10% relative error at
    these cardinalities."""
    from kartograph_spark.components import (
        two_hop_reach_approx,
        two_hop_reach_exact,
    )

    hub = [("hub", f"leaf{i:02d}") for i in range(30)]
    chain = [(f"c{i}", f"c{i + 1}") for i in range(6)]
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    pairs = _pairs(spark, hub + chain + k4 + [("a", "hub"), ("c0", "leaf00")])
    exact = {r["urn"]: r["n_reach"] for r in two_hop_reach_exact(pairs).collect()}
    approx = {
        r["urn"]: r["n_reach"]
        for r in two_hop_reach_approx(pairs, hub_cap=10_000, rsd=0.02).collect()
    }
    assert set(approx) == set(exact)
    for urn, n in exact.items():
        assert abs(approx[urn] - n) <= max(1, 0.1 * n), (urn, n, approx[urn])


def test_two_hop_hub_cap_is_lower_bound(spark):
    """A capped hub yields a one-sided (lower-bound) estimate for nodes
    routing through it, and never affects nodes that don't."""
    from kartograph_spark.components import (
        two_hop_reach_approx,
        two_hop_reach_exact,
    )

    hub = [("hub", f"leaf{i:02d}") for i in range(30)]
    side = [("x", "hub"), ("p", "q")]
    pairs = _pairs(spark, hub + side)
    exact = {r["urn"]: r["n_reach"] for r in two_hop_reach_exact(pairs).collect()}
    capped = {
        r["urn"]: r["n_reach"]
        for r in two_hop_reach_approx(pairs, hub_cap=5, rsd=0.02).collect()
    }
    # x reaches hub + 30 leaves exactly; through the capped hub it sees
    # only 5 of them (one-sided truncation, never an overcount)
    assert capped["x"] < exact["x"]
    assert capped["x"] >= 5
    # the isolated pair is untouched by the cap
    assert capped["p"] == exact["p"] == 1


def test_triangle_counts_dedupes_and_ignores_direction(spark):
    from kartograph_spark.components import triangle_counts

    # same triangle given with duplicate and reversed edges counts once
    rows = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "c")]
    got = {
        (r["node"], r["n_triangles"])
        for r in triangle_counts(_pairs(spark, rows)).collect()
    }
    assert got == {("a", 1), ("b", 1), ("c", 1)}


def test_capped_mid_equals_window_form(spark):
    """The tournament top-k (_capped_mid) must emit EXACTLY the id-smallest
    cap neighbors per node — identical to the single-window formulation —
    on a skewed graph where the cap engages."""
    import pandas as pd
    from pyspark.sql import Window

    from kartograph_spark.components import _capped_mid, symmetric_edges

    # hub 'h' with 50 neighbors, a small clique, some chains
    rows = [("h", f"n{i:03d}") for i in range(50)]
    rows += [("a", "b"), ("b", "c"), ("c", "d"), ("n001", "z")]
    pairs = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))
    sym = symmetric_edges(pairs)
    cap = 7
    got = {
        tuple(r) for r in _capped_mid(sym, cap).select("a", "b").collect()
    }
    w = Window.partitionBy("a").orderBy("b")
    from pyspark.sql import functions as F

    exp = {
        tuple(r)
        for r in sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .select("a", "b")
        .collect()
    }
    assert got == exp
    # and the cap really engaged: hub h kept exactly cap of its 50
    assert sum(1 for a, _ in got if a == "h") == cap


def test_two_hop_capped_exact_bounds_and_converges(spark):
    """cap >= max degree -> identical to the exact form; small cap ->
    one-sided lower bound that actually bites on the hub graph."""
    import pandas as pd

    from kartograph_spark.components import (
        two_hop_reach_capped_exact,
        two_hop_reach_exact,
    )

    rows = [("h", f"n{i:02d}") for i in range(30)]
    rows += [(f"n{i:02d}", f"m{i:02d}") for i in range(30)]
    pairs = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))
    exact = {
        r["urn"]: r["n_reach"] for r in two_hop_reach_exact(pairs).collect()
    }
    full = {
        r["urn"]: r["n_reach"]
        for r in two_hop_reach_capped_exact(pairs, hub_cap=1000).collect()
    }
    assert full == exact
    capped = {
        r["urn"]: r["n_reach"]
        for r in two_hop_reach_capped_exact(pairs, hub_cap=5).collect()
    }
    assert set(capped) == set(exact)
    assert all(capped[u] <= exact[u] for u in exact)
    # the m-leaves reach through hub h's capped list: bound must bite
    assert any(capped[u] < exact[u] for u in exact)


def test_release_caches(spark):
    """Graph-operator caches are caller-released: release_caches() drops
    every tracked block and empties the registry."""
    import pandas as pd

    from kartograph_spark import components as C

    pairs = spark.createDataFrame(
        pd.DataFrame([("a", "b"), ("b", "c")], columns=["src", "dst"])
    )
    C.two_hop_reach_exact(pairs).collect()
    assert len(C._PERSISTED) >= 1
    released = C.release_caches()
    assert released >= 1
    assert C._PERSISTED == []
