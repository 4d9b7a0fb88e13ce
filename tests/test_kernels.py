"""Fragment kernels (plans/kernels.py) and alternative impls vs DataFrame results."""

from __future__ import annotations

import pytest

from tests.conftest import make_edges, make_vertices


def test_lcc_wedge_equals_intersect(spark):
    from libgrape_lite_spark.operators.lcc import triangle_counts

    v = make_vertices(spark, range(12))
    e = make_edges(
        spark,
        [(i, (i + 1) % 12) for i in range(12)] + [(i, (i + 2) % 12) for i in range(12)],
    )
    a = {r["id"]: r["tri"] for r in triangle_counts(v, e, impl="wedge").collect()}
    b = {r["id"]: r["tri"] for r in triangle_counts(v, e, impl="intersect").collect()}
    assert a == b


def test_wcc_auto_equals_dataframe(spark):
    """PIE local-fixpoint kernel (impl='auto') matches a union-find oracle
    on a multi-chain + cross-link graph (chains exercise the local
    collapse)."""
    from libgrape_lite_spark.operators import wcc
    from tests.conftest import make_edges, make_vertices
    from tests.test_property_oracles import _wcc_oracle

    # two long chains + a bridge + an isolated pair + a self-loop
    edges = [(i, i + 1) for i in range(0, 19)] + [(30, 31), (5, 40), (40, 41), (7, 7)]
    ids = sorted({x for e in edges for x in e})
    v, e = make_vertices(spark, ids), make_edges(spark, edges)
    want = {i: c for i, c in _wcc_oracle(max(ids) + 1, edges).items() if i in ids}
    got = {r["id"]: r["comp"] for r in wcc(v, e, impl="auto", num_fragments=4).collect()}
    assert got == want


@pytest.mark.parametrize("impl", ["auto", "twostar"])
def test_wcc_long_ids_past_2_53(spark, impl):
    """Component ids above 2^53 survive exactly in every impl (a path
    through double would round them)."""
    from libgrape_lite_spark.operators import wcc

    base = (1 << 53) + 1  # odd; double would round to 2^53
    ids = [base, base + 1, base + 3]
    edges = [(base, base + 1)]
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    e = spark.createDataFrame([(s, d, 1.0) for s, d in edges], "src long, dst long, weight double")
    got = {r["id"]: r["comp"] for r in wcc(v, e, impl=impl, num_fragments=2).collect()}
    assert got == {base: base, base + 1: base, base + 3: base + 3}


def test_wcc_rejects_removed_impl(spark):
    """The frontier-push impl is gone: asking for it fails loudly instead
    of silently running the default."""
    from libgrape_lite_spark.operators import wcc

    v, e = make_vertices(spark, [0, 1]), make_edges(spark, [(0, 1)])
    with pytest.raises(ValueError, match="auto|twostar"):
        wcc(v, e, impl="dataframe")


def test_sssp_auto_equals_dataframe(spark):
    """sssp_auto local-relaxation kernel matches the frontier fixpoint on a
    weighted multi-chain graph with a shortcut that flips the best path."""
    from libgrape_lite_spark.operators import sssp
    from tests.conftest import make_edges, make_vertices

    edges = (
        [(i, i + 1, 1.0) for i in range(0, 15)]
        + [(0, 10, 3.5)]          # shortcut beats the 10-hop chain
        + [(20, 21, 2.0), (21, 22, 2.0)]  # unreachable from 0? no — connect:
        + [(14, 20, 0.5)]
        + [(5, 5, 9.0)]           # self loop no-op
    )
    ids = sorted({x for e in edges for x in e[:2]})
    v = make_vertices(spark, ids)
    e = make_edges(spark, edges)
    want = {r["id"]: r["dist"] for r in sssp(v, e, source=0).collect()}
    got = {r["id"]: r["dist"] for r in
           sssp(v, e, source=0, impl="auto", num_fragments=4).collect()}
    assert got == want
    # directed variant too
    want_d = {r["id"]: r["dist"] for r in sssp(v, e, source=0, directed=True).collect()}
    got_d = {r["id"]: r["dist"] for r in
             sssp(v, e, source=0, directed=True, impl="auto", num_fragments=4).collect()}
    assert got_d == want_d
