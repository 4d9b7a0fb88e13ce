"""Golden-output parity against the reference's own expected results.

Mirrors misc/app_tests.sh: every algorithm on dataset/p2p-31 with the
reference's fixed parameters (--sssp_source=6 --bfs_source=6 --pr_d=0.85
--pr_mr=10 --cdlp_mr=10, app_tests.sh:54-115) compared with the three
comparators (app_tests.sh:6-39):

* ExactVerify  (cmp)        → BFS, CDLP (integer outputs), SSSP (allclose 1e-12)
* EpsVerify    (rel 1e-4)   → PageRank — we assert the tighter rel 1e-6
* WCCVerify    (relabeling) → WCC component-isomorphism
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from tests.conftest import REFERENCE_DATASET

DATASET = REFERENCE_DATASET

pytestmark = pytest.mark.skipif(
    not REFERENCE_DATASET.exists(),
    reason=f"reference dataset {REFERENCE_DATASET} is absent; the golden "
    "p2p-31 outputs ship only with the reference checkout",
)


def load_golden(name: str) -> pd.DataFrame:
    return pd.read_csv(
        DATASET / name, sep=r"\s+", header=None, names=["oid", "value"]
    )


@pytest.fixture(scope="module")
def graph(spark):
    from libgrape_lite_spark.sources.tsv import load_graph_tsv

    v, e = load_graph_tsv(
        spark, str(DATASET / "p2p-31.e"), str(DATASET / "p2p-31.v")
    )
    vertices = v.select(v.oid.alias("id")).localCheckpoint(eager=True)
    edges = e.localCheckpoint(eager=True)
    return vertices, edges


def result_series(df, value_col):
    pdf = df.toPandas().rename(columns={"id": "oid"}).set_index("oid")[value_col]
    return pdf.sort_index()


def check_exact(df, value_col, golden_name):
    golden = load_golden(golden_name).set_index("oid")["value"].sort_index()
    got = result_series(df, value_col)
    assert len(got) == len(golden)
    pd.testing.assert_series_equal(
        got, golden.astype(got.dtype), check_names=False, check_exact=True
    )


def check_close(df, value_col, golden_name, rtol, atol=0.0):
    golden = load_golden(golden_name).set_index("oid")["value"].sort_index()
    got = result_series(df, value_col)
    assert len(got) == len(golden)
    import numpy as np

    g = golden.to_numpy(dtype=float)
    o = got.to_numpy(dtype=float)
    # treat inf == inf as equal
    both_inf = np.isinf(g) & np.isinf(o)
    ok = both_inf | np.isclose(o, g, rtol=rtol, atol=atol)
    bad = np.flatnonzero(~ok)
    assert bad.size == 0, f"{bad.size} mismatches, first: oid={golden.index[bad[0]]} got={o[bad[0]]} want={g[bad[0]]}"


# ----------------------------------------------------------------- BFS
def test_bfs_undirected(spark, graph):
    from libgrape_lite_spark.operators import bfs

    v, e = graph
    check_exact(bfs(v, e, source=6, directed=False), "depth", "p2p-31-BFS")


def test_bfs_directed(spark, graph):
    from libgrape_lite_spark.operators import bfs

    v, e = graph
    check_exact(bfs(v, e, source=6, directed=True), "depth", "p2p-31-BFS-directed")


# ---------------------------------------------------------------- SSSP
def test_sssp_undirected(spark, graph):
    from libgrape_lite_spark.operators import sssp

    v, e = graph
    check_close(sssp(v, e, source=6, directed=False), "dist", "p2p-31-SSSP", rtol=0, atol=1e-12)


def test_sssp_directed(spark, graph):
    from libgrape_lite_spark.operators import sssp

    v, e = graph
    check_close(
        sssp(v, e, source=6, directed=True), "dist", "p2p-31-SSSP-directed", rtol=0, atol=1e-12
    )


# ------------------------------------------------------------ PageRank
def test_pagerank_undirected(spark, graph):
    from libgrape_lite_spark.operators import pagerank

    v, e = graph
    check_close(
        pagerank(v, e, damping=0.85, max_rounds=10, directed=False),
        "rank",
        "p2p-31-PR",
        rtol=1e-6,
    )


def test_pagerank_hub_salted(spark, graph):
    """Two-level salted gather (hub-skew protection) is result-identical."""
    from libgrape_lite_spark.operators import pagerank

    v, e = graph
    check_close(
        pagerank(v, e, damping=0.85, max_rounds=10, directed=False, hub_salts=8),
        "rank",
        "p2p-31-PR",
        rtol=1e-6,
    )


def test_pagerank_directed(spark, graph):
    from libgrape_lite_spark.operators import pagerank

    v, e = graph
    check_close(
        pagerank(v, e, damping=0.85, max_rounds=10, directed=True),
        "rank",
        "p2p-31-PR-directed",
        rtol=1e-6,
    )


# ---------------------------------------------------------------- WCC
def test_wcc_isomorphism(spark, graph):
    from libgrape_lite_spark.operators import wcc

    v, e = graph
    golden = load_golden("p2p-31-WCC").set_index("oid")["value"].sort_index()
    got = result_series(wcc(v, e), "comp")
    assert len(got) == len(golden)
    # bijection check (misc/wcc_check.cc:28-71)
    fwd: dict = {}
    bwd: dict = {}
    for oid in golden.index:
        a, b = got[oid], golden[oid]
        assert fwd.setdefault(a, b) == b, f"oid={oid}"
        assert bwd.setdefault(b, a) == a, f"oid={oid}"


# --------------------------------------------------------------- CDLP
def test_cdlp(spark, graph):
    from libgrape_lite_spark.operators import cdlp

    v, e = graph
    check_exact(cdlp(v, e, max_rounds=10, directed=False), "label", "p2p-31-CDLP")


# ---------------------------------------------------------------- LCC
def test_lcc(spark, graph):
    from libgrape_lite_spark.operators import lcc

    v, e = graph
    check_close(lcc(v, e), "lcc", "p2p-31-LCC", rtol=0, atol=1e-12)


# --------------------------------------------- mutable base + delta
def test_mutable_graph_matches_goldens(spark):
    """base .e + delta == p2p-31 → same goldens (app_tests.sh:124-181)."""
    from libgrape_lite_spark.operators import wcc
    from libgrape_lite_spark.sources.tsv import load_mutable_graph_tsv

    v, e = load_mutable_graph_tsv(
        spark,
        str(DATASET / "p2p-31.e.mutable_base"),
        str(DATASET / "p2p-31.e.mutable_delta"),
        str(DATASET / "p2p-31.v"),
    )
    vertices = v.select(v.oid.alias("id"))
    golden = load_golden("p2p-31-WCC").set_index("oid")["value"].sort_index()
    got = result_series(wcc(vertices, e), "comp")
    fwd: dict = {}
    bwd: dict = {}
    for oid in golden.index:
        a, b = got[oid], golden[oid]
        assert fwd.setdefault(a, b) == b, f"oid={oid}"
        assert bwd.setdefault(b, a) == a, f"oid={oid}"


def test_sssp_auto_golden(spark, graph):
    """sssp_auto (PIE local-relaxation kernel) against the reference's own
    expected output (sssp_auto.h — same fixpoint as sssp.h)."""
    from libgrape_lite_spark.operators import sssp

    v, e = graph
    check_close(
        sssp(v, e, source=6, directed=False, impl="auto"),
        "dist", "p2p-31-SSSP", rtol=0, atol=1e-12,
    )


def test_wcc_auto_golden(spark, graph):
    from libgrape_lite_spark.operators import wcc

    v, e = graph
    golden = load_golden("p2p-31-WCC").set_index("oid")["value"].sort_index()
    got = result_series(wcc(v, e, impl="auto"), "comp")
    fwd: dict = {}
    bwd: dict = {}
    for oid in golden.index:
        a, b = got[oid], golden[oid]
        assert fwd.setdefault(a, b) == b, f"oid={oid}"
        assert bwd.setdefault(b, a) == a, f"oid={oid}"
