"""BFS — level-synchronous breadth-first search.

Reference (examples/analytical_apps/bfs/bfs.h:36-213): source gets depth 0,
its neighbors depth 1 (bfs.h:68-82); each round assigns ``depth = k`` to
newly reached vertices; messages carry no payload (EmptyType, bfs.h:111-117)
— the level counter lives in the driver. Unreached vertices output
``int64 max`` (bfs_auto_context.h:44; golden p2p-31-BFS-directed).

Depth is the unit-weight shortest distance (bfs_auto.h), so BFS runs the
PIE SSSP kernel with w=1: range-partitioned fragments settle their local
levels in one superstep (plans/kernels.py:local_relax_fixpoint) and global
rounds count only cross-fragment hops. The reference's top-down/bottom-up
direction switch (bfs.h:126-178) has no separate path here: both
directions compute the same depths, and the local fixpoint already does
the whole-fragment dense pass the bottom-up direction exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libgrape_lite_spark.plans.kernels import graph_op
from libgrape_lite_spark.plans.superstep import IterationDriver

INT64_MAX = (1 << 63) - 1


@graph_op
def bfs(
    vertices: DataFrame,
    edges: DataFrame,
    source: int,
    directed: bool = False,
    driver: IterationDriver | None = None,
    max_rounds: int | None = None,
    num_fragments: int | None = None,
) -> DataFrame:
    """Returns DataFrame(id: long, depth: long); unreached depth = int64 max.

    ``max_rounds`` is a DEPTH bound: one PIE superstep settles many levels
    at once, so depths beyond the budget are clamped back to "unreached".
    Every superstep dominates one level-synchronous round, so all depths
    ≤ ``max_rounds`` are final — the clamp gives exactly the output of a
    level-synchronous BFS stopped after ``max_rounds`` levels.
    """
    from libgrape_lite_spark.operators.sssp import _sssp_auto
    from libgrape_lite_spark.plans.kernels import (
        cached_edge_balanced_bounds,
        pie_fragment_table,
    )

    spark = vertices.sparkSession
    drv = driver or IterationDriver(spark)
    # fragment bounds memoized on the ORIGINAL edge table — the derived
    # unit-weight table below is a fresh object the cache can't see, so
    # compute here and pass through (one approxQuantile per graph, not
    # per BFS call; same bounds wcc/sssp autos share)
    nf = num_fragments or int(spark.conf.get("spark.sql.shuffle.partitions"))
    bounds = cached_edge_balanced_bounds(edges, nf, key="src")
    # the shared fragment table with BFS's unit weight substituted — a
    # narrow projection that keeps the pinned range partitioning, so
    # wcc/sssp/bfs on one graph share one fragment build
    adj_p = pie_fragment_table(edges, nf, bounds, directed=directed).select(
        "src", "dst", F.lit(1.0).alias("weight"), "part"
    )
    d = _sssp_auto(
        vertices, edges, source, directed, drv, max_rounds, num_fragments,
        bounds=bounds, adj_p=adj_p,
    )
    depth = (
        F.when(F.col("dist") == float("inf"), F.lit(INT64_MAX))
        .otherwise(F.col("dist").cast("long"))
    )
    if max_rounds is not None:
        depth = F.when(depth > max_rounds, F.lit(INT64_MAX)).otherwise(depth)
    return d.select("id", depth.alias("depth"))
