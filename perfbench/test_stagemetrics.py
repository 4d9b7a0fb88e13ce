"""Checks of the benchmark's stage-metrics collector.

Run from the repository root:

    python3 -m pytest perfbench/test_stagemetrics.py -q
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    from libgrape_lite_spark import get_spark

    session = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2)
    yield session
    session.stop()


def test_pagerank_call_reports_its_jobs_and_supersteps(spark):
    from libgrape_lite_spark.operators import pagerank
    from libgrape_lite_spark.plans.superstep import IterationDriver
    from stagemetrics import StageTrace, superstep_stats

    vertices = spark.createDataFrame([(i, f"v{i}") for i in range(6)], "id long, oid string")
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 4, 1.0), (4, 5, 1.0), (5, 0, 1.0)],
        "src long, dst long, weight double",
    )
    trace = StageTrace(spark)
    iteration = IterationDriver(spark)
    with trace.call("operators.pagerank") as stats:
        pagerank(vertices, edges, max_rounds=3, driver=iteration).count()

    assert stats.jobs > 0
    assert stats.stages > 0
    assert stats.tasks > 0
    assert stats.shuffle_write_mb > 0
    assert stats.executor_run_s > 0
    assert 0 < stats.core_busy_share(2) <= 1
    supersteps, p50, top = superstep_stats(iteration)
    assert supersteps == len(iteration.metrics) == 3
    assert 0 < p50 <= top


def test_a_call_counts_only_its_own_jobs(spark):
    from stagemetrics import StageTrace

    trace = StageTrace(spark)
    spark.range(100).count()  # before the bracket: not counted
    with trace.call("idle") as idle:
        pass
    with trace.call("one") as one:
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    assert idle.jobs == 0 and idle.tasks == 0
    assert one.jobs > 0 and one.shuffle_write_mb > 0
    assert [c.name for c in trace.calls] == ["idle", "one"]
