"""SSSP — single-source shortest paths (parallel Bellman-Ford, frontier).

Reference (examples/analytical_apps/sssp/sssp.h:37-170): dist starts +∞,
source 0; PEval relaxes the source's out-edges (sssp.h:68-83); each IncEval
merges incoming distance messages with ``atomic_min`` (sssp.h:118-124),
relaxes the out-edges of improved vertices (sssp.h:132-144), terminates
when the frontier is empty (sssp.h:159-163). Edge weight double; unreached
output "infinity" (sssp_auto_context.h:59-73).

Spark plan per superstep:
    cand  = frontier ⋈ edges on src → (dst, dist+w) → groupBy(dst).min
    dist' = dist ⟗ cand, keep improvements → next frontier
The ``groupBy.min`` is the atomic_min; map-side combine pre-shrinks the
shuffle exactly like the reference's per-fragment dedup of messages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libgrape_lite_spark.plans.kernels import graph_op
from libgrape_lite_spark.plans.superstep import IterationDriver
from libgrape_lite_spark.session import static_plans


@graph_op
def sssp(
    vertices: DataFrame,
    edges: DataFrame,
    source: int,
    directed: bool = False,
    driver: IterationDriver | None = None,
    max_rounds: int | None = None,
    impl: str = "dataframe",
    num_fragments: int | None = None,
) -> DataFrame:
    """Returns DataFrame(id: long, dist: double); unreached = +inf.

    ``edges(src, dst, weight)``; undirected doubling applied unless
    ``directed`` (run_app.h:204-210 instantiates SSSP with edata=double).

    ``impl="auto"`` — sssp_auto parity (sssp_auto.h:46-123): range-
    partitioned fragments run a LOCAL Bellman-Ford fixpoint per superstep
    (plans/kernels.py:local_relax_fixpoint); a shortest path confined to a
    fragment settles in one superstep, so global rounds count only the
    cross-fragment hops. ``"dataframe"`` (default) is the frontier push —
    better when frontiers are tiny relative to fragments. Paired runs on
    4 cores (BENCH/runs/wcc_sssp_ab_1792300951.json): undirected, the
    push tied at sf0.01 (5/10) and won 8/10 at sf0.1; directed, ``auto``
    won 10/10 at both scales, ~8× faster.
    """
    if impl not in ("dataframe", "auto"):
        raise ValueError(f"impl must be dataframe|auto, got {impl!r}")
    spark = vertices.sparkSession
    drv = driver or IterationDriver(spark)

    if impl == "auto":
        return _sssp_auto(vertices, edges, source, directed, drv, max_rounds, num_fragments)

    with static_plans(spark):
        # parallel edges: only the min weight per (src,dst) can ever win a
        # relaxation — pre-combining keeps the per-round join minimal; the
        # partitioned table is shared across calls on this edge table
        from libgrape_lite_spark.plans.kernels import push_adjacency_table

        adj = push_adjacency_table(edges, directed=directed, weighted=True)

        def superstep(state: DataFrame, step: int):
            frontier = state.where("improved").select("id", "dist")
            cand = (
                adj.join(frontier.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"), (F.col("dist") + F.col("weight")).alias("nd"))
                .groupBy("id")
                .agg(F.min("nd").alias("gathered"))
            )
            return _improve(state, cand)

        state = drv.run(
            lambda: _source_state(spark, source), superstep, max_rounds=max_rounds, op="sssp"
        )
    return _distances(vertices, state)


def _source_state(spark, source: int) -> DataFrame:
    return spark.createDataFrame(
        [(source, 0.0, True)], "id long, dist double, improved boolean"
    )


def _improve(state: DataFrame, cand: DataFrame):
    """One superstep's merge of candidate distances ``cand(id, gathered)``
    (the atomic_min, sssp.h:118-124): keep the smaller distance; vertices
    whose candidate won are the next frontier, and their count is the
    termination aggregate."""
    inf = F.lit(float("inf"))
    new_state = (
        state.select("id", "dist")
        .join(cand, "id", "full")
        .select(
            "id",
            F.least(F.coalesce("dist", inf), F.coalesce("gathered", inf)).alias("dist"),
            (
                F.col("gathered").isNotNull()
                & (F.col("gathered") < F.coalesce("dist", inf))
            ).alias("improved"),
        )
    )
    return new_state, {"active": F.count(F.when(F.col("improved"), True))}


def _distances(vertices: DataFrame, state: DataFrame) -> DataFrame:
    return (
        vertices.select("id")
        .join(state.select("id", "dist"), "id", "left")
        .select("id", F.coalesce("dist", F.lit(float("inf"))).alias("dist"))
    )


def _sssp_auto(
    vertices: DataFrame,
    edges: DataFrame,
    source: int,
    directed: bool,
    drv: IterationDriver,
    max_rounds: int | None,
    num_fragments: int | None,
    bounds: list[int] | None = None,
    adj_p: DataFrame | None = None,
) -> DataFrame:
    """PIE-model SSSP: per-fragment local Bellman-Ford to fixpoint, then
    one min-combine shuffle of improved distances per superstep.

    ``bounds`` / ``adj_p`` — pre-computed fragment boundaries and prepared
    fragment table (BFS passes both, derived from the memo on its original
    edge table, since the unit-weight view it takes would otherwise be a
    fresh object the per-table cache can't see)."""
    from libgrape_lite_spark.plans.kernels import (
        cached_edge_balanced_bounds,
        local_relax_fixpoint,
        pie_fragment_table,
    )

    spark = vertices.sparkSession
    with static_plans(spark):
        nf = num_fragments or int(spark.conf.get("spark.sql.shuffle.partitions"))
        # edge-count-balanced fragment ranges (Rebalancer parity) — skewed
        # graphs keep ≈E/nf edges per fragment; results are partitioning-
        # invariant. Quantiles over the RAW src column (one narrow scan,
        # not the doubled table), memoized per edge table — as is the
        # fragment table itself — so several operators on one graph share
        # a single prep pass.
        if bounds is None:
            bounds = cached_edge_balanced_bounds(edges, nf, key="src")
        adj = (
            adj_p
            if adj_p is not None
            else pie_fragment_table(edges, nf, bounds, directed=directed)
        )

        def superstep(state: DataFrame, step: int):
            cand = local_relax_fixpoint(
                adj, state.select("id", "dist"), "dist", nf, bounds=bounds
            )
            return _improve(state, cand)

        state = drv.run(
            lambda: _source_state(spark, source),
            superstep,
            max_rounds=max_rounds,
            op="sssp_auto",
        )
    return _distances(vertices, state)
