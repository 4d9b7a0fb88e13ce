"""Kill-resume (north rule): a killed iterative job resumes mid-iteration
from the last committed checkpoint and produces identical results."""

from __future__ import annotations

import functools

import pytest

from tests.conftest import make_edges, make_vertices


def _ring(spark, n=30):
    v = make_vertices(spark, range(n))
    e = make_edges(spark, [(i, (i + 1) % n) for i in range(n)])
    return v, e


def _ring_with_tail(spark, n=30):
    # a ring alone is a fixed point of pagerank_local (every degree is 2)
    v = make_vertices(spark, range(n + 1))
    e = make_edges(spark, [(i, (i + 1) % n) for i in range(n)] + [(0, n)])
    return v, e


# num_fragments pinned to 8: the mid-run precondition needs the ring split
# across enough fragments that the PIE paths cannot reach the fixed point
# before the kill (fewer fragments → bigger local fixpoints → faster global
# convergence; the session default is 4 partitions since r7)
NF = 8

# (operator, its arguments, supersteps before the "kill", graph)
RESUME_CASES = {
    "wcc-auto": ("wcc", {"num_fragments": NF}, 3, _ring),
    "wcc-twostar": ("wcc", {"impl": "twostar"}, 2, _ring),
    "sssp-dataframe": ("sssp", {"source": 0}, 3, _ring),
    "sssp-auto": ("sssp", {"source": 0, "impl": "auto", "num_fragments": NF}, 2, _ring),
    "bfs": ("bfs", {"source": 0, "num_fragments": NF}, 2, _ring),
    "cdlp": ("cdlp", {}, 3, _ring),
    "pagerank_local": ("pagerank_local", {}, 3, _ring_with_tail),
}


@pytest.mark.parametrize("case", list(RESUME_CASES))
def test_resume_equals_uninterrupted(spark, tmp_path, case):
    from libgrape_lite_spark import operators
    from libgrape_lite_spark.plans.superstep import IterationDriver

    name, kwargs, kill_at, graph = RESUME_CASES[case]
    op = functools.partial(getattr(operators, name), **kwargs)
    v, e = graph(spark)

    def as_dict(df):
        (col,) = [c for c in df.columns if c != "id"]
        return {r["id"]: r[col] for r in df.collect()}

    want = as_dict(op(v, e))

    ckpt = str(tmp_path / "ckpt")
    run_id = "killrun"
    # phase 1: "killed" after kill_at supersteps (checkpoint every superstep)
    d1 = IterationDriver(spark, run_id=run_id, checkpoint_dir=ckpt, checkpoint_every=1)
    partial = as_dict(op(v, e, driver=d1, max_rounds=kill_at))
    assert len(d1.metrics) == kill_at
    assert partial != want  # genuinely mid-run

    # phase 2: fresh driver with the same run id resumes after the kill
    d2 = IterationDriver(spark, run_id=run_id, checkpoint_dir=ckpt, checkpoint_every=1)
    _, resumed_step = d2.latest_checkpoint()
    assert resumed_step == kill_at
    assert as_dict(op(v, e, driver=d2)) == want
    assert d2.metrics[0].superstep == kill_at + 1  # resumed, not restarted


def test_pagerank_resume(spark, tmp_path):
    from libgrape_lite_spark.operators import pagerank
    from libgrape_lite_spark.plans.superstep import IterationDriver

    v, e = _ring(spark, n=12)
    want = {r["id"]: r["rank"] for r in pagerank(v, e, max_rounds=10).collect()}

    ckpt = str(tmp_path / "ckpt_pr")
    d1 = IterationDriver(spark, run_id="pr", checkpoint_dir=ckpt, checkpoint_every=1)
    pagerank(v, e, max_rounds=4, driver=d1)
    d2 = IterationDriver(spark, run_id="pr", checkpoint_dir=ckpt, checkpoint_every=1)
    got = {r["id"]: r["rank"] for r in pagerank(v, e, max_rounds=10, driver=d2).collect()}
    assert d2.metrics[0].superstep == 5  # resumed, not restarted
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_metrics_lineage_written(spark, tmp_path):
    from libgrape_lite_spark.operators import wcc
    from libgrape_lite_spark.plans.superstep import IterationDriver

    v, e = _ring(spark, n=10)
    mpath = str(tmp_path / "metrics")
    d = IterationDriver(spark, metrics_path=mpath)
    wcc(v, e, driver=d)
    m = spark.read.parquet(mpath)
    rows = m.collect()
    assert {r["superstep"] for r in rows} == set(range(1, len(rows) + 1))
    assert all(r["t_ms"] > 0 for r in rows)
    assert rows[0]["run_id"] == d.run_id
