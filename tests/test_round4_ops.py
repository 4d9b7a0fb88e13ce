"""Round-4 operator behaviors: auto hub-salting, BFS max_rounds
depth-bound semantics, WCC two-star rounds, shared prepared tables."""

from __future__ import annotations

import pytest

from tests.conftest import make_edges, make_vertices


def as_dict(df, key="id"):
    rows = df.collect()
    (vcol,) = [c for c in df.columns if c != key]
    return {r[key]: r[vcol] for r in rows}


# ------------------------------------------------- auto hub-salting (PR)
def test_pagerank_auto_hub_salting_power_law(spark):
    """Power-law fixture: a hub whose degree out-weighs whole fragments.
    With detection thresholds scaled to the fixture, hub_salts='auto' must
    ENGAGE (observable via driver.info) and produce ranks identical to the
    unsalted run (sum is associative — salting is plan-only)."""
    from libgrape_lite_spark.operators import pagerank
    from libgrape_lite_spark.plans.superstep import IterationDriver

    n_leaves = 200
    v = make_vertices(spark, range(n_leaves + 1))
    e = make_edges(spark, [(0, i) for i in range(1, n_leaves + 1)])

    drv = IterationDriver(spark)
    salted = as_dict(
        pagerank(
            v, e, max_rounds=5, driver=drv,
            hub_degree_factor=1.0, min_hub_degree=0,
        )
    )
    assert drv.info["pagerank_hub_salts"] > 0  # auto-engaged
    plain = as_dict(pagerank(v, e, max_rounds=5, hub_salts=0))
    assert salted.keys() == plain.keys()
    for k in plain:
        assert salted[k] == pytest.approx(plain[k], abs=1e-12)


def test_pagerank_auto_hub_salting_stays_off_without_skew(spark):
    """Default thresholds: a skew-free chain must NOT engage salting (the
    extra shuffle would only cost)."""
    from libgrape_lite_spark.operators import pagerank
    from libgrape_lite_spark.plans.superstep import IterationDriver

    v = make_vertices(spark, range(10))
    e = make_edges(spark, [(i, i + 1) for i in range(9)])
    drv = IterationDriver(spark)
    pagerank(v, e, max_rounds=2, driver=drv).collect()
    assert drv.info["pagerank_hub_salts"] == 0


# --------------------------------------- BFS max_rounds is a depth bound
def test_bfs_max_rounds_depth_bound_all_impls(spark):
    """One PIE superstep settles many levels; max_rounds must still bound
    the returned DEPTHS (clamped back to unreached), exactly as a
    level-synchronous BFS stopped after max_rounds levels (ADVICE r3)."""
    from libgrape_lite_spark.operators import bfs
    from libgrape_lite_spark.operators.bfs import INT64_MAX

    v = make_vertices(spark, range(6))
    e = make_edges(spark, [(i, i + 1) for i in range(5)])
    expect = {0: 0, 1: 1, 2: 2, 3: INT64_MAX, 4: INT64_MAX, 5: INT64_MAX}
    assert as_dict(bfs(v, e, source=0, max_rounds=2)) == expect
    # and without a budget it settles the full chain
    full = {i: i for i in range(6)}
    assert as_dict(bfs(v, e, source=0)) == full


# ------------------------------ shared prepared-table cache correctness
def test_prepared_tables_shared_across_operators(spark):
    """PrepareToRunApp-once parity: operators on the SAME edge table share
    the pinned fragment/push/degree tables (memoized on the object), and
    results are identical to fresh-object runs; a different vertices
    object over the same edges rebuilds the degree table."""
    from libgrape_lite_spark.operators import bfs, pagerank, sssp, wcc
    from libgrape_lite_spark.plans.kernels import _PREP_CACHE_ATTR, invalidate_prepared

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7)]
    v = make_vertices(spark, range(1, 8))
    e = make_edges(spark, pairs)

    r_wcc = as_dict(wcc(v, e))
    r_bfs = as_dict(bfs(v, e, source=1))
    r_sssp = as_dict(sssp(v, e, source=1, impl="auto"))
    r_pr = as_dict(pagerank(v, e, max_rounds=3))
    r_pr2 = as_dict(pagerank(v, e, max_rounds=3))
    assert r_pr == r_pr2  # cached adjacency + degree table reused bit-stably
    cache = getattr(e, _PREP_CACHE_ATTR)
    assert any(k[0] == "pie" for k in cache)      # wcc/bfs/sssp share this
    assert ("adj", False) in cache               # pagerank's gather is its view
    assert ("outdeg", False) in cache

    # fresh objects (no cache) must agree exactly
    v2 = make_vertices(spark, range(1, 8))
    e2 = make_edges(spark, pairs)
    assert as_dict(wcc(v2, e2)) == r_wcc
    assert as_dict(bfs(v2, e2, source=1)) == r_bfs
    assert as_dict(sssp(v2, e2, source=1, impl="auto")) == r_sssp
    assert as_dict(pagerank(v2, e2, max_rounds=3)) == r_pr

    # a different vertices frame over the same edges: degree table rebuilds
    # (vertex 8 is isolated → dangling, must appear with a rank)
    v3 = make_vertices(spark, range(1, 9))
    r_pr3 = as_dict(pagerank(v3, e, max_rounds=3))
    assert 8 in r_pr3 and len(r_pr3) == 8

    # invalidation drops the pinned tables; operators rebuild transparently
    invalidate_prepared(e)
    assert not getattr(e, _PREP_CACHE_ATTR)
    assert as_dict(wcc(v, e)) == r_wcc


# ------------------------------------- large-star/small-star WCC (twostar)
def test_wcc_twostar_matches_auto_across_shapes(spark):
    """impl='twostar' (Kiveris et al. alternating algorithm) must produce
    the exact min-label components of the default impl on chains, stars,
    random graphs with parallel edges/self-loops, and isolated vertices —
    and converge in ~log rounds on a 200-chain where frontier push needs
    200."""
    import random

    from libgrape_lite_spark.operators import wcc
    from libgrape_lite_spark.plans.superstep import IterationDriver

    rng = random.Random(42)
    rand_pairs = [(rng.randrange(80), rng.randrange(80)) for _ in range(70)]
    shapes = {
        "chain200": [(i, i + 1) for i in range(200)],
        "star": [(0, i) for i in range(1, 40)],
        "rand": rand_pairs + [(5, 5), (7, 8), (7, 8)],  # self + parallel
        "two_comps": [(1, 2), (2, 3), (10, 11)],
    }
    chain_drv = None
    for name, pairs in shapes.items():
        ids = sorted({x for p in pairs for x in p} | {9999})  # + isolated
        v = make_vertices(spark, ids)
        e = make_edges(spark, pairs)
        drv = IterationDriver(spark)
        two = as_dict(wcc(v, e, impl="twostar", driver=drv))
        auto = as_dict(wcc(v, e))
        assert two == auto, name
        if name == "chain200":
            chain_drv = drv
    # diameter 200, but two-star rounds are O(log^2 V) — single digits here
    assert len(chain_drv.metrics) <= 12, len(chain_drv.metrics)
