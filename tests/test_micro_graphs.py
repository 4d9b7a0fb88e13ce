"""Hand-computed micro-graph fixtures (FIXTURES.md §4)."""

from __future__ import annotations

import math

import pytest

from tests.conftest import make_edges, make_vertices


def as_dict(df, key="id"):
    rows = df.collect()
    (vcol,) = [c for c in df.columns if c != key]
    return {r[key]: r[vcol] for r in rows}


# ---------------------------------------------------------------- chain5
def test_chain5_bfs_sssp_wcc(spark):
    from libgrape_lite_spark.operators import bfs, sssp, wcc

    v = make_vertices(spark, [1, 2, 3, 4, 5])
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])

    assert as_dict(bfs(v, e, source=1)) == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    assert as_dict(sssp(v, e, source=1)) == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0, 5: 4.0}
    assert as_dict(wcc(v, e)) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_chain5_directed_unreachable(spark):
    from libgrape_lite_spark.operators import bfs, sssp
    from libgrape_lite_spark.operators.bfs import INT64_MAX

    v = make_vertices(spark, [1, 2, 3])
    e = make_edges(spark, [(2, 3)])
    d = as_dict(bfs(v, e, source=2, directed=True))
    assert d == {1: INT64_MAX, 2: 0, 3: 1}
    s = as_dict(sssp(v, e, source=2, directed=True))
    assert s[1] == math.inf and s[2] == 0.0 and s[3] == 1.0


# ------------------------------------------------- triangle_plus_tail LCC
def test_triangle_plus_tail_lcc(spark):
    from libgrape_lite_spark.operators import lcc

    v = make_vertices(spark, [1, 2, 3, 4])
    e = make_edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    got = as_dict(lcc(v, e))
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(1.0 / 3.0)
    assert got[4] == 0.0


# ------------------------------------------------------- two components
def test_two_components_wcc(spark):
    from libgrape_lite_spark.operators import wcc

    v = make_vertices(spark, [1, 2, 3, 4])
    e = make_edges(spark, [(1, 2), (3, 4)])
    assert as_dict(wcc(v, e)) == {1: 1, 2: 1, 3: 3, 4: 3}


# ------------------------------------------------------------- star hub
def test_star_hub_cdlp_oscillation(spark):
    from libgrape_lite_spark.operators import cdlp

    n_leaves = 20
    v = make_vertices(spark, range(0, n_leaves + 1))
    e = make_edges(spark, [(0, i) for i in range(1, n_leaves + 1)])
    # round 1: leaves adopt hub's 0; hub ties on {1..20} → smallest = 1
    got1 = as_dict(cdlp(v, e, max_rounds=1))
    assert got1[0] == 1
    assert all(got1[i] == 0 for i in range(1, n_leaves + 1))
    # even round count → leaves 1, hub 0 (strict 2-cycle)
    got10 = as_dict(cdlp(v, e, max_rounds=10))
    assert got10[0] == 0
    assert all(got10[i] == 1 for i in range(1, n_leaves + 1))


# ------------------------------------------------------ parallel edges
def test_parallel_edges_cdlp_multiplicity(spark):
    from libgrape_lite_spark.operators import cdlp

    # vertex 3 sees label 1 once and label 2 twice (parallel edge) →
    # majority 2; a set-semantics (wrong) implementation would tie → 1
    v = make_vertices(spark, [1, 2, 3])
    e = make_edges(spark, [(1, 3), (2, 3), (2, 3)])
    got = as_dict(cdlp(v, e, max_rounds=1))
    assert got[3] == 2


# ----------------------------------------------------------- self loop
def test_self_loop_degree_and_wcc(spark):
    from libgrape_lite_spark.functions.edges import out_degrees, undirected
    from libgrape_lite_spark.operators import wcc

    v = make_vertices(spark, [1, 2])
    e = make_edges(spark, [(1, 1), (1, 2)])
    deg = as_dict(out_degrees(undirected(e), v))
    assert deg == {1: 3, 2: 1}  # self-loop doubled → [1,1,2]
    assert as_dict(wcc(v, e)) == {1: 1, 2: 1}


# ------------------------------------------------------------ dangling PR
def _pagerank_oracle(n, out_deg, adj_in, d=0.85, rounds=10):
    """Scalar reference recurrence (pagerank.h:52-219; rank flows along
    edge direction — u gathers r from its IN-neighbors, divides by its
    own out-degree — the combination the directed golden validates)."""
    p = 1.0 / n
    r = {u: (p / out_deg[u] if out_deg[u] > 0 else p) for u in out_deg}
    n_dangling = sum(1 for u in out_deg if out_deg[u] == 0)
    dangling_sum = p * n_dangling
    for _ in range(rounds):
        base = (1 - d) / n + d * dangling_sum / n
        dangling_sum = base * n_dangling
        new = {}
        for u in out_deg:
            gathered = sum(r[v] for v in adj_in.get(u, []))
            new[u] = (d * gathered + base) / out_deg[u] if out_deg[u] > 0 else base
        r = new
    return {u: (r[u] * out_deg[u] if out_deg[u] > 0 else r[u]) for u in out_deg}


def test_dangling_pagerank_directed(spark):
    from libgrape_lite_spark.operators import pagerank

    v = make_vertices(spark, [1, 2, 3])
    e = make_edges(spark, [(1, 2), (3, 2)])  # 2 is dangling
    got = as_dict(pagerank(v, e, directed=True, max_rounds=10))
    want = _pagerank_oracle(
        3, {1: 1, 2: 0, 3: 1}, {2: [1, 3]}, rounds=10
    )
    for u in want:
        assert got[u] == pytest.approx(want[u], rel=1e-12), u


def test_pagerank_undirected_sums_to_one(spark):
    from libgrape_lite_spark.operators import pagerank

    v = make_vertices(spark, [1, 2, 3, 4])
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4)])
    got = as_dict(pagerank(v, e, max_rounds=10))
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)


def test_pagerank_convergence_stop(spark):
    from libgrape_lite_spark.operators import pagerank
    from libgrape_lite_spark.plans.superstep import IterationDriver

    v = make_vertices(spark, [1, 2, 3, 4])
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4)])
    drv = IterationDriver(spark)
    pagerank(v, e, max_rounds=200, tol=1e-6, driver=drv)
    assert 0 < len(drv.metrics) < 200  # stopped early on tol
    assert drv.metrics[-1].extra["max_delta"] < 1e-6


# ------------------------------------------ BFS trees and deep chains
def _bfs_oracle_binary_tree(depth_levels):
    """Complete binary tree 1..2^L-1: depth(v) = floor(log2(v))."""
    out = {}
    for v in range(1, 2 ** depth_levels):
        out[v] = v.bit_length() - 1
    return out


def _bfs_oracle_directed_subtree(depth_levels, root):
    """Directed binary tree searched from ``root``: its descendants get
    their depth below it, every other vertex stays INT64_MAX."""
    from libgrape_lite_spark.operators.bfs import INT64_MAX

    ids = range(1, 2 ** depth_levels)
    want = {i: INT64_MAX for i in ids}
    want[root] = 0
    for c in ids:
        if c > 1:
            anc, d = c, 0
            while anc > root:
                anc //= 2
                d += 1
            if anc == root:
                want[c] = d
    return want


_TREE5 = [(c // 2, c) for c in range(2, 2**5)]
_CHAIN40 = [(i, i + 1) for i in range(1, 40)]


@pytest.mark.parametrize(
    "pairs,source,directed,want",
    [
        pytest.param(_TREE5, 1, False, _bfs_oracle_binary_tree(5), id="binary_tree"),
        pytest.param(
            _TREE5, 2, True, _bfs_oracle_directed_subtree(5, 2), id="directed_subtree"
        ),
        pytest.param(_CHAIN40, 1, False, {i: i - 1 for i in range(1, 41)}, id="chain40"),
    ],
)
def test_bfs_exact_depths(spark, pairs, source, directed, want):
    """A 5-level binary tree (undirected from the root, directed from a
    mid vertex with the rest unreachable) and a 40-level chain — exact
    depths."""
    from libgrape_lite_spark.operators import bfs

    v = make_vertices(spark, sorted(want))
    e = make_edges(spark, pairs)
    assert as_dict(bfs(v, e, source=source, directed=directed)) == want


# ----------------------------------------- PageRank variants (round 3)
def _pagerank_local_oracle(n_ids, out_adj, out_deg, d=0.85, rounds=10):
    """NumPy oracle for the reference's PageRankLocal formulation
    (pagerank_local.h): r0 = outdeg>0 ? 1/outdeg : 1; per round
    r' = 1-d+d·Σ_{u→w} r[w], divided by outdeg on non-last rounds."""
    r = {u: (1.0 / out_deg[u] if out_deg[u] > 0 else 1.0) for u in n_ids}
    for k in range(1, rounds + 1):
        nxt = {}
        for u in n_ids:
            cur = sum(r[w] for w in out_adj.get(u, []))
            val = 1.0 - d + d * cur
            if k < rounds and out_deg[u] > 0:
                val /= out_deg[u]
            nxt[u] = val
        r = nxt
    return r


def test_pagerank_local_vs_numpy_oracle(spark):
    from libgrape_lite_spark.operators import pagerank_local

    ids = [1, 2, 3, 4, 5]
    # directed, with a dangling vertex (5), a parallel edge, and a cycle
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (1, 2)]
    v = make_vertices(spark, ids)
    e = make_edges(spark, pairs)

    out_adj, out_deg = {}, {u: 0 for u in ids}
    for s, t in pairs:
        out_adj.setdefault(s, []).append(t)
        out_deg[s] += 1
    want = _pagerank_local_oracle(ids, out_adj, out_deg, rounds=7)
    got = as_dict(pagerank_local(v, e, max_rounds=7, directed=True))
    for u in ids:
        assert got[u] == pytest.approx(want[u], abs=1e-12)

    # undirected doubling: oracle over the doubled adjacency
    upairs = pairs + [(t, s) for s, t in pairs]
    uadj, udeg = {}, {u: 0 for u in ids}
    for s, t in upairs:
        uadj.setdefault(s, []).append(t)
        udeg[s] += 1
    wantu = _pagerank_local_oracle(ids, uadj, udeg, rounds=7)
    gotu = as_dict(pagerank_local(v, e, max_rounds=7))
    for u in ids:
        assert gotu[u] == pytest.approx(wantu[u], abs=1e-12)
