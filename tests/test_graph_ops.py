"""Unit tests for operators/graph.py: hand-computed PageRank fixpoints,
a known triangle census, and skyline brute-force equivalence.

The plans-layer twins (pagerank_copurchase, triangle_count_coparts,
recursive_ancestor_depth, skyline_orders, value_anomaly_events) are
oracle-checked by tests/test_entry_contract.py like every queries()
entry; these tests pin the operator semantics on graphs small enough
to verify by hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fsc_etl_spark.operators.cache import checkpoint_rdd_ids
from fsc_etl_spark.operators.graph import (
    bfs_hops,
    kcore_degrees,
    ktruss_support,
    pagerank_integer,
    skyline_2d,
    triangle_counts_per_node,
    triangle_stats,
)
from fsc_etl_spark.testing import persisted_rdd_ids


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_two_iterations_hand_computed(spark):
    # a->b, a->c, b->c, c->a ; deg a=2, b=1, c=1, init 1e9, d=85/100.
    # iter1: a=1e9, b=575_000_000, c=1_425_000_000
    # iter2: a=1_361_250_000, b=575_000_000, c=1_063_750_000
    edges = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")])
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges, iters=2).collect()
    }
    assert got == {"a": 1_361_250_000, "b": 575_000_000, "c": 1_063_750_000}


def test_pagerank_symmetric_cycle_is_fixpoint(spark):
    # In a 2-cycle every node keeps exactly RANK_SCALE: inflow == init,
    # base + 85% of init == init with these integers.
    edges = _edges(spark, [("x", "y"), ("y", "x")])
    got = {r["node"]: r["rank"] for r in pagerank_integer(edges, iters=3).collect()}
    assert got == {"x": 10**9, "y": 10**9}


def test_pagerank_dedups_duplicate_edges(spark):
    e1 = _edges(spark, [("x", "y"), ("y", "x")])
    e2 = _edges(spark, [("x", "y"), ("x", "y"), ("y", "x")])
    r1 = {r["node"]: r["rank"] for r in pagerank_integer(e1, iters=2).collect()}
    r2 = {r["node"]: r["rank"] for r in pagerank_integer(e2, iters=2).collect()}
    assert r1 == r2


def test_pagerank_dense_fast_path_matches_general(spark):
    # symmetrised graph: the no-nodes-join fast path must be identical
    edges = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"), ("c", "a"), ("c", "d"), ("d", "c")],
    )
    slow = {r["node"]: r["rank"] for r in pagerank_integer(edges, iters=3).collect()}
    fast = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges, iters=3, every_node_has_inflow=True).collect()
    }
    assert slow == fast


def test_triangle_stats_known_graph(spark):
    # Triangle 1-2-3 plus pendant 3-4; reversed duplicates and a
    # self-loop must be canonicalised away.
    edges = _edges(
        spark,
        [
            ("1", "2"),
            ("2", "3"),
            ("1", "3"),
            ("3", "4"),
            ("2", "1"),  # reverse dup
            ("4", "3"),  # reverse dup
            ("2", "2"),  # self-loop
        ],
    )
    row = triangle_stats(edges).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_wedges"], row["n_triangles"]) == (
        4,
        4,
        5,
        1,
    )
    pernode = {
        r["node"]: (r["d"], r["triangles"])
        for r in triangle_counts_per_node(edges).collect()
    }
    assert pernode == {"1": (2, 1), "2": (2, 1), "3": (3, 1), "4": (1, 0)}
    truss = {(r["lo"], r["hi"], r["sup"]) for r in ktruss_support(edges, k=3).collect()}
    assert truss == {("1", "2", 1), ("1", "3", 1), ("2", "3", 1)}
    assert ktruss_support(edges, k=4).collect() == []


def test_triangle_stats_empty(spark):
    empty = _edges(spark, []).filter(F.lit(False))
    row = triangle_stats(empty).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_wedges"], row["n_triangles"]) == (
        0,
        0,
        0,
        0,
    )
    assert triangle_counts_per_node(empty).collect() == []
    assert ktruss_support(empty, k=3).collect() == []


def test_bfs_hops_min_distance_and_bound(spark):
    # chain a->b->c->d->e plus shortcut a->c: dist(c)=1 via shortcut,
    # e is beyond max_hops=3 from a and must be absent.
    edges = _edges(
        spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c")]
    )
    src = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"] for r in bfs_hops(edges, src, max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}
    got2 = {r["node"]: r["dist"] for r in bfs_hops(edges, src, max_hops=2).collect()}
    assert got2 == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_hops_disconnected_source(spark):
    # a source that never appears in the edge list is still reported
    # at distance 0 and reaches nothing.
    edges = _edges(spark, [("x", "y")])
    src = spark.createDataFrame([("z",)], "node string")
    got = {r["node"]: r["dist"] for r in bfs_hops(edges, src, max_hops=2).collect()}
    assert got == {"z": 0}


def _brute_skyline(rows):
    # keep (p, d): no other (p2, d2) with p2 <= p, d2 >= d, strict somewhere
    best = {}
    for p, d in rows:
        best[p] = max(best.get(p, d), d)
    pts = sorted(best.items())
    keep = []
    for p, d in pts:
        if not any(p2 < p and d2 >= d for p2, d2 in pts):
            keep.append((p, d))
    return sorted(keep)


@pytest.mark.parametrize("n_parts", [1, 7])
def test_skyline_matches_bruteforce_and_is_partition_invariant(spark, n_parts):
    rows = [
        (5, 10),
        (5, 12),  # same price: only max date survives per price
        (3, 12),  # dominates the two above (cheaper, same best date)
        (3, 11),
        (7, 15),
        (9, 15),  # dominated by (7, 15): pricier, same date
        (1, 1),
        (2, 1),  # dominated by (1, 1)
        (8, 14),  # dominated by (7, 15)
    ]
    df = spark.createDataFrame(rows, "price long, odate long").repartition(n_parts)
    got = sorted(
        (r["price"], r["odate"]) for r in skyline_2d(df, "price", "odate").collect()
    )
    assert got == _brute_skyline(rows) == [(1, 1), (3, 12), (7, 15)]


def test_skyline_single_row(spark):
    df = spark.createDataFrame([(4, 4)], "price long, odate long")
    assert [(r["price"], r["odate"]) for r in skyline_2d(df, "price", "odate").collect()] == [
        (4, 4)
    ]


# ---- property-based checks vs pure-Python references ----

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

PROP_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).map(
        lambda t: (f"n{t[0]}", f"n{t[1]}")
    ),
    min_size=1,
    max_size=25,
)


def _py_triangles(pairs):
    es = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nodes = sorted({n for e in es for n in e})
    import itertools

    deg = {n: sum(1 for e in es if n in e) for n in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tris = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )
    return len(nodes), len(es), wedges, tris


@given(pairs=edge_lists)
@settings(**PROP_SETTINGS)
def test_triangle_stats_matches_bruteforce(spark, pairs):
    df = spark.createDataFrame(pairs, "src string, dst string")
    row = triangle_stats(df).collect()[0]
    assert (
        row["n_nodes"],
        row["n_edges"],
        row["n_wedges"],
        row["n_triangles"],
    ) == _py_triangles(pairs)


def _py_pagerank(pairs, iters):
    edges = sorted(set(pairs))
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    rank = {n: 10**9 for n in nodes}
    base = (15 * 10**9) // 100
    for _ in range(iters):
        inflow = {n: 0 for n in nodes}
        for s, ds in out.items():
            c = rank[s] // len(ds)
            for d in ds:
                inflow[d] += c
        rank = {n: base + (85 * inflow[n]) // 100 for n in nodes}
    return rank


@given(pairs=edge_lists)
@settings(**PROP_SETTINGS)
def test_pagerank_matches_reference(spark, pairs):
    df = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(df, iters=3, dangling="drop").collect()
    }
    assert got == _py_pagerank(pairs, 3)


def _py_bfs(pairs, sources, max_hops):
    adj = {}
    for s, d in set(pairs):
        adj.setdefault(s, set()).add(d)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = h
        frontier = nxt
    return dist


@given(pairs=edge_lists, max_hops=st.integers(1, 4))
@settings(**PROP_SETTINGS)
def test_bfs_matches_reference(spark, pairs, max_hops):
    df = spark.createDataFrame(pairs, "src string, dst string")
    src = spark.createDataFrame([("n0",), ("n5",)], "node string")
    got = {
        r["node"]: r["dist"]
        for r in bfs_hops(df, src, max_hops=max_hops).collect()
    }
    assert got == _py_bfs(pairs, ["n0", "n5"], max_hops)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)), min_size=1, max_size=20
    )
)
@settings(**PROP_SETTINGS)
def test_skyline_matches_bruteforce_property(spark, rows):
    df = spark.createDataFrame(rows, "price long, odate long")
    got = sorted(
        (r["price"], r["odate"]) for r in skyline_2d(df, "price", "odate").collect()
    )
    assert got == _brute_skyline(rows)


def test_pagerank_weighted_hand_computed(spark):
    # a->b w=3, a->c w=1, c->a w=1: W_a=4, W_c=1; one iteration:
    # b gets (1e9*3) div 4, c gets (1e9*1) div 4, a gets 1e9.
    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(
            edges, iters=1, weight_col="w", dangling="drop"
        ).collect()
    }
    assert got == {"a": 10**9, "b": 787_500_000, "c": 362_500_000}


def test_pagerank_constant_weights_equal_unweighted(spark):
    # floor((r*k)/(k*d)) == floor(r/d): constant weights must cancel
    # exactly, flooring included.
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    unw = spark.createDataFrame(pairs, "src string, dst string")
    k7 = spark.createDataFrame(
        [(s, d, 7) for s, d in pairs], "src string, dst string, w long"
    )
    r1 = {r["node"]: r["rank"] for r in pagerank_integer(unw, iters=3).collect()}
    r2 = {
        r["node"]: r["rank"]
        for r in pagerank_integer(k7, iters=3, weight_col="w").collect()
    }
    assert r1 == r2


def test_pagerank_empty_graph(spark):
    edges = _edges(spark, []).filter(F.lit(False))
    assert pagerank_integer(edges, iters=2).count() == 0
    assert (
        pagerank_integer(edges, iters=2, every_node_has_inflow=True).count() == 0
    )


def test_bfs_empty_edges(spark):
    edges = _edges(spark, []).filter(F.lit(False))
    src = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"] for r in bfs_hops(edges, src, max_hops=3).collect()}
    assert got == {"a": 0}


def test_pagerank_dangling_default_raises(spark):
    # b is a sink: the general path must reject it loudly by default.
    edges = _edges(spark, [("a", "b")])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no out-edge"):
        pagerank_integer(edges, iters=1)


def test_pagerank_redistribute_hand_computed(spark):
    # a->b, b dangling; n_nodes=2, init=1e9, base=150e6.
    # r1: share=5e8; a = 150e6 + 85*5e8//100 = 575e6
    #     b = 150e6 + 85*(1e9+5e8)//100 = 1_425e6
    # r2: share=1_425e6//2=712.5e6; inflow(b)=575e6
    #     a = 150e6 + 85*712_500_000//100 = 755_625_000
    #     b = 150e6 + 85*(575e6+712.5e6)//100 = 1_244_375_000
    edges = _edges(spark, [("a", "b")])
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges, iters=2, dangling="redistribute").collect()
    }
    assert got == {"a": 755_625_000, "b": 1_244_375_000}


def test_pagerank_redistribute_no_dangling_equals_drop(spark):
    # With no sinks the share is 0 every round: redistribute == drop.
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    edges = _edges(spark, pairs)
    drop = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges, iters=3, dangling="drop").collect()
    }
    redis = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges, iters=3, dangling="redistribute").collect()
    }
    assert drop == redis


def _py_pagerank_redistribute(pairs, iters):
    edges = sorted(set(pairs))
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    rank = {n: 10**9 for n in nodes}
    base = (15 * 10**9) // 100
    for _ in range(iters):
        share = sum(rank[n] for n in nodes if n not in out) // len(nodes)
        inflow = {n: 0 for n in nodes}
        for s, ds in out.items():
            c = rank[s] // len(ds)
            for d in ds:
                inflow[d] += c
        rank = {n: base + (85 * (inflow[n] + share)) // 100 for n in nodes}
    return rank


@given(pairs=edge_lists)
@settings(**PROP_SETTINGS)
def test_pagerank_redistribute_matches_reference(spark, pairs):
    df = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(df, iters=3, dangling="redistribute").collect()
    }
    assert got == _py_pagerank_redistribute(pairs, 3)


def test_pagerank_weighted_duplicate_pairs_raise(spark):
    edges = spark.createDataFrame(
        [("a", "b", 2), ("a", "b", 3), ("b", "a", 1)],
        "src string, dst string, w long",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unique"):
        pagerank_integer(edges, iters=1, weight_col="w", dangling="drop")


def test_pagerank_weighted_overflow_bound_raises(spark):
    edges = spark.createDataFrame(
        [("a", "b", 2**40), ("b", "a", 2**40)], "src string, dst string, w long"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overflow"):
        pagerank_integer(edges, iters=1, weight_col="w")


def test_pagerank_invalid_dangling_mode(spark):
    edges = _edges(spark, [("a", "b"), ("b", "a")])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dangling must be"):
        pagerank_integer(edges, iters=1, dangling="bogus")


def _py_kcore(pairs, k):
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    while True:
        bad = [n for n, s in adj.items() if len(s) < k]
        if not bad:
            break
        for n in bad:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(s) for n, s in adj.items() if s}


def test_kcore_known_graph(spark):
    # K4 on a-d plus a pendant path e-f: the 2-core is exactly the K4.
    pairs = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"), ("e", "f"),
    ]
    got = {
        (r["node"], r["core_deg"])
        for r in kcore_degrees(_edges(spark, pairs), k=2).collect()
    }
    assert got == {("a", 3), ("b", 3), ("c", 3), ("d", 3)}


def test_kcore_empty_core_and_empty_input(spark):
    pairs = [("a", "b"), ("b", "c")]  # a path: 2-core is empty
    assert kcore_degrees(_edges(spark, pairs), k=2).count() == 0
    empty = _edges(spark, [("a", "a")])  # self-loop only -> no edges
    assert kcore_degrees(empty, k=1).count() == 0


def test_kcore_nonconvergence_raises(spark):
    # a 6-chain peels one layer per round from each end: rounds=1 is
    # not enough for k=2 and must fail loud, not return a partial peel
    pairs = [(f"n{i}", f"n{i+1}") for i in range(6)]
    with pytest.raises(ValueError, match="did not converge"):
        kcore_degrees(_edges(spark, pairs), k=2, rounds=1)
    assert kcore_degrees(_edges(spark, pairs), k=2, rounds=3).count() == 0


def test_kcore_invalid_params_raise(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="k must be"):
        kcore_degrees(e, k=0)
    with pytest.raises(ValueError, match="rounds must be"):
        kcore_degrees(e, k=1, rounds=0)


@given(pairs=edge_lists, k=st.integers(1, 4))
@settings(**PROP_SETTINGS)
def test_kcore_matches_reference(spark, pairs, k):
    got = {
        (r["node"], r["core_deg"])
        for r in kcore_degrees(_edges(spark, pairs), k=k, rounds=12).collect()
    }
    assert got == set(_py_kcore(pairs, k).items())


def test_pagerank_conflicting_flags_raise(spark):
    edges = _edges(spark, [("a", "b"), ("b", "a")])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no dangling nodes"):
        pagerank_integer(
            edges, iters=1, every_node_has_inflow=True, dangling="redistribute"
        )


def _py_ppr(pairs, seeds, iters, init=10**9):
    edges = sorted(set(pairs))
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    sset = set(seeds) & set(nodes)
    n, ns = len(nodes), len(sset)
    base_seed = (15 * init * n) // (100 * ns)
    rank = {v: (init if v in sset else 0) for v in nodes}
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for u in nodes:
            if u in out:
                share = rank[u] // len(out[u])
                for v in out[u]:
                    inflow[v] += share
        rank = {
            v: (base_seed if v in sset else 0) + (85 * inflow[v]) // 100
            for v in nodes
        }
    return rank


def test_ppr_hand_graph_matches_reference(spark):
    # symmetric triangle + pendant pair, seeded on one triangle corner
    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    pairs = und + [(y, x) for x, y in und]
    edges = _edges(spark, pairs)
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges, iters=3, seeds=seeds).collect()
    }
    assert got == _py_ppr(pairs, ["a"], 3)
    # seed-proximity: the seed's direct neighbors outrank the pendant
    assert got["b"] > got["d"] and got["c"] > got["d"]


def test_ppr_rejects_dangling_and_disjoint_seeds(spark):
    directed = _edges(spark, [("a", "b")])  # b has no out-edge
    seeds = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError, match="no out-edge"):
        pagerank_integer(directed, iters=3, seeds=seeds)
    sym = _edges(spark, [("a", "b"), ("b", "a")])
    ghost = spark.createDataFrame([("zz",)], "node string")
    with pytest.raises(ValueError, match="no seed"):
        pagerank_integer(sym, iters=3, seeds=ghost)


def test_ppr_symmetric_fast_path_matches_general(spark):
    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    pairs = und + [(y, x) for x, y in und]
    edges = _edges(spark, pairs)
    seeds = spark.createDataFrame([("a",), ("d",)], "node string")
    slow = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges, iters=3, seeds=seeds).collect()
    }
    fast = {
        r["node"]: r["rank"]
        for r in pagerank_integer(
            edges, iters=3, seeds=seeds, every_node_has_inflow=True
        ).collect()
    }
    assert slow == fast


@pytest.mark.parametrize("dangling", ["drop", "redistribute"])
def test_ppr_rejects_dangling_modes_other_than_error(spark, dangling):
    edges = _edges(spark, [("a", "b"), ("b", "a")])
    seeds = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError, match="seeds require dangling='error'"):
        pagerank_integer(edges, iters=1, seeds=seeds, dangling=dangling)


def test_hits_integer_tiny_graph(spark):
    """Hand-computed 2-iteration integer HITS on a 3-edge bipartite
    graph: h0=1e9 on {u1,u2}; a_raw = {v1: 2e9 (u1+u2), v2: 1e9 (u2)};
    L1-normalized a = {v1: 666666666, v2: 333333333}; h_raw =
    {u1: 666666666, u2: 999999999}; h = {u1: 399999999, u2: 600000000}
    (floor divisions) — then one more round."""
    from fsc_etl_spark.operators.graph import hits_integer

    edges = _edges(spark, [("u1", "v1"), ("u2", "v1"), ("u2", "v2")])
    S = 10**9

    h = {"u1": S, "u2": S}
    for _ in range(2):
        a_raw = {"v1": h["u1"] + h["u2"], "v2": h["u2"]}
        tot = sum(a_raw.values())
        a = {k: v * S // tot for k, v in a_raw.items()}
        h_raw = {"u1": a["v1"], "u2": a["v1"] + a["v2"]}
        tot = sum(h_raw.values())
        h = {k: v * S // tot for k, v in h_raw.items()}

    auth, hubs = hits_integer(edges, iters=2)
    assert {r["node"]: r["auth"] for r in auth.collect()} == a
    assert {r["node"]: r["hub"] for r in hubs.collect()} == h


def test_hits_integer_rejects_bad_iters(spark):
    import pytest

    from fsc_etl_spark.operators.graph import hits_integer

    with pytest.raises(ValueError, match="iters"):
        hits_integer(_edges(spark, [("a", "b")]), iters=0)


def test_kcenter_greedy_hand_case(spark):
    """Four 1-D points 0, 0.1, 0.5, 1.0 (quantized 0, 12, 63, 127):
    seed = id 0; farthest is 127 (id 3, d=127²); then 63 (id 2,
    d=min(63², 64²)=3969); then 12 (id 1, d=144)."""
    from fsc_etl_spark.operators.clustering import kcenter_greedy

    emb = spark.createDataFrame(
        [(0, [0.0]), (1, [0.1]), (2, [0.5]), (3, [1.0])],
        "vec_id long, embedding array<float>",
    )
    got = [
        (r.sel_round, r.center_id, r.sel_dist_sq)
        for r in kcenter_greedy(emb, k=4).orderBy("sel_round").collect()
    ]
    assert got == [(1, 0, 0), (2, 3, 127 * 127), (3, 2, 63 * 63), (4, 1, 12 * 12)]


def test_kcenter_greedy_rejects_empty(spark):
    import pytest

    from fsc_etl_spark.operators.clustering import kcenter_greedy

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        kcenter_greedy(empty, k=2)


def test_kcenter_greedy_rejects_k_exceeding_rows(spark):
    """ADVICE r10: once every point is a center all residual distances
    are 0 and the argmax would re-pick the lowest id as a duplicate —
    k > n must raise instead."""
    import pytest

    from fsc_etl_spark.operators.clustering import kcenter_greedy

    two = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="exceeds input rows"):
        kcenter_greedy(two, k=3)


def test_multi_source_ball_sizes_tiny_graph(spark):
    """Path graph a—b—c—d (symmetrised), seeds {a, c}: hand-counted
    per-seed distance histogram at max_hops=2."""
    from fsc_etl_spark.operators.graph import multi_source_ball_sizes

    und = [("a", "b"), ("b", "c"), ("c", "d")]
    edges = _edges(spark, und + [(y, x) for x, y in und])
    seeds = spark.createDataFrame([("a",), ("c",)], "node string")
    got = {
        (r.seed, r.dist): r.n_nodes
        for r in multi_source_ball_sizes(edges, seeds, max_hops=2).collect()
    }
    assert got == {
        ("a", 0): 1, ("a", 1): 1, ("a", 2): 1,   # a; b; c
        ("c", 0): 1, ("c", 1): 2, ("c", 2): 1,   # c; b,d; a
    }


# ---------------------------------------------------------------------------
# assume_distinct guard (VERDICT r13 #8 / ADVICE r13): the flag is an
# unchecked caller contract — duplicate (src, dst) pairs would silently
# double LPA votes / PageRank mass. This test re-runs every wired
# assume_distinct=True call site on the gate fixture with the operator
# wrapped to VALIDATE the contract first, so removing a .distinct() (or
# breaking the parity/lo<hi structural-uniqueness argument) in any edge
# build fails HERE, not rounds later in the rotating oracle window.
# ---------------------------------------------------------------------------


def test_assume_distinct_call_sites_pass_unique_edges(spark, sf_smoke, monkeypatch):
    import fsc_etl_spark.operators.graph as og
    import fsc_etl_spark.plans.graph_ops as gops

    checked: list[str] = []

    def _assert_unique(edges, who):
        chk = edges.select("src", "dst").agg(
            F.count(F.lit(1)).alias("ne"),
            F.count_distinct(F.struct("src", "dst")).alias("nd"),
        ).first()
        assert chk["ne"] == chk["nd"], (
            f"{who}: assume_distinct=True edge build has "
            f"{chk['ne'] - chk['nd']} duplicate pair(s)"
        )
        checked.append(who)

    real_lpa = og.label_propagation
    real_pr = og.pagerank_integer

    def lpa(edges, *a, **kw):
        if kw.get("assume_distinct"):
            _assert_unique(edges, "label_propagation")
        return real_lpa(edges, *a, **kw)

    def pr(edges, *a, **kw):
        if kw.get("assume_distinct"):
            _assert_unique(edges, "pagerank_integer")
        return real_pr(edges, *a, **kw)

    # the plans module imported the names directly — patch BOTH the
    # operator module and the plan module's bindings
    for mod in (og, gops):
        monkeypatch.setattr(mod, "label_propagation", lpa, raising=True)
        monkeypatch.setattr(mod, "pagerank_integer", pr, raising=True)

    wired = [
        "pagerank_copurchase",
        "pagerank_dangling_redistribute",
        "ppr_copurchase_seeds",
        "graph_label_propagation",
        "community_modularity",
        "graph_conductance",
    ]
    for name in wired:
        gops.QUERIES[name](spark, sf_smoke).write.format("noop").mode(
            "overwrite"
        ).save()
    # every wired call site actually exercised the guard
    assert len(checked) == len(wired), (checked, wired)


def test_label_propagation_query_builds_lazily_and_caches_nothing(spark, sf_smoke):
    """graph_label_propagation is one lazy plan: building it starts no
    Spark job, and once it has run and the cache is cleared no RDD is
    left persisted that was not persisted before."""
    import fsc_etl_spark.plans.graph_ops as gops

    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(None))
    persisted = persisted_rdd_ids(spark)
    df = gops.QUERIES["graph_label_propagation"](spark, sf_smoke)
    assert set(tracker.getJobIdsForGroup(None)) == jobs, "the builder ran a Spark job"
    assert df.collect()
    spark.catalog.clearCache()
    assert persisted_rdd_ids(spark) - persisted == set()


@pytest.mark.parametrize("name", ["community_modularity", "graph_conductance"])
def test_label_readouts_release_every_cache_but_their_result(spark, sf_smoke, name):
    """community_modularity and graph_conductance cache the pairs and
    the labels they read several times; after the query has run, the
    checkpoint of the returned frame is the only RDD it leaves
    persisted."""
    import fsc_etl_spark.plans.graph_ops as gops

    persisted = persisted_rdd_ids(spark)
    df = gops.QUERIES[name](spark, sf_smoke)
    df.collect()
    spark.catalog.clearCache()
    assert persisted_rdd_ids(spark) - persisted == checkpoint_rdd_ids(df)
