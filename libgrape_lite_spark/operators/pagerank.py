"""PageRank — LDBC formulation, exact semantics of the reference app.

Reference (examples/analytical_apps/pagerank/pagerank.h:52-219 +
pagerank_context.h:30-92), replicated step for step:

* ``p = 1/|V|``; iterating state stores rank ÷ out-degree:
  ``r0[u] = outdeg(u) > 0 ? p/outdeg : p`` (pagerank.h:70-81).
* ``dangling_sum = p * #dangling`` (pagerank.h:83-88).
* each of ``max_round`` rounds (pagerank.h:107-109, 159-195):
    base          = (1-d)/|V| + d * dangling_sum / |V|
    dangling_sum' = base * #dangling
    gathered[u]   = Σ_{(v,u) ∈ E} r[v]         # receive from IN-neighbors
    r'[u]         = outdeg > 0 ? (d*gathered + base)/outdeg : base
* after the last round multiply back ``r[u] *= outdeg(u)`` for
  non-dangling vertices (pagerank.h:202-214).

Direction note: rank flows ALONG edge direction — u receives Σ r[v] from
its in-neighbors and divides by its own out-degree (classic LDBC PR; the
golden p2p-31-PR-directed validates exactly this combination — verified
against a NumPy oracle over all four gather/degree direction pairings).
On the undirected doubled table in-adjacency == out-adjacency, so the
reference's adjacency-scan formulation coincides.

Stop rules: fixed ``max_rounds`` (LDBC/golden parity, default 10 =
``--pr_mr``) AND optional ``tol`` — stop early when max|Δ(final-scale
rank)| < tol (the north rule's 1e-6 convergence criterion), whichever
first. The superstep loop is ``IterationDriver.run``; its ``active`` is
the count of vertices whose delta is still ≥ tol.

Spark plan per superstep: one join (edges ⋈ ranks on dst) + one shuffle
groupBy(src).sum — map-side partial sums are the analog of the reference's
per-fragment combine. ``base``/``dangling_sum`` are driver scalars like the
reference's ``Sum()`` AllReduce (communicator.h:99-113). The degree column
rides inside the state DataFrame so no extra join per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libgrape_lite_spark.plans.kernels import graph_op
from libgrape_lite_spark.plans.superstep import IterationDriver
from libgrape_lite_spark.session import static_plans


@graph_op
def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    max_rounds: int = 10,
    directed: bool = False,
    tol: float | None = None,
    driver: IterationDriver | None = None,
    hub_salts: int | str = "auto",
    hub_degree_factor: float = 8.0,
    min_hub_degree: int = 1_000_000,
) -> DataFrame:
    """Returns DataFrame(id: long, rank: double).

    ``hub_salts`` — two-level salted gather (SURVEY.md §4.4, the skew
    fix the reference's Rebalancer approximates): contributions are first
    summed per (dst, salt) where salt spreads each destination's incoming
    mass over ``hub_salts`` reducers, then per dst. Protects the combine
    against hub vertices whose in-degree exceeds one reducer's capacity;
    identical results (sum is associative), one extra vertex-sized shuffle.

    ``hub_salts="auto"`` (default) decides from the degree table the
    operator builds anyway (zero extra passes): salting engages — with
    ``shuffle.partitions`` salts — when the max degree exceeds BOTH
    ``hub_degree_factor``× the mean per-partition edge share (relative
    skew: one vertex out-weighs whole fragments) and ``min_hub_degree``
    (absolute floor: below ~10^6 messages per hub, map-side partial
    aggregation alone absorbs the skew and the extra shuffle would only
    cost). Detection reads the out-degree column, which on the doubled
    undirected table IS the in-degree the gather aggregates over; directed
    callers with known in-degree hubs should pass an explicit int. The
    verdict is observable at ``driver.info["pagerank_hub_salts"]``.
    """
    if not (hub_salts == "auto" or isinstance(hub_salts, int)):
        raise ValueError(f"hub_salts must be an int or 'auto', got {hub_salts!r}")
    spark = vertices.sparkSession
    drv = driver or IterationDriver(spark)

    with static_plans(spark):
        from libgrape_lite_spark.plans.kernels import (
            cached_degree_table,
            gather_adjacency_table,
        )

        # the graph's pinned adjacency, partitioned by the gather join
        # key — shared by every operator on this edge table; supersteps
        # then shuffle only vertex-sized data (state join + groupBy
        # combine). Each (src, dst) row stands for its ``cnt`` parallel
        # copies, so a row sends ``r * cnt`` (plans/kernels.py
        # gather_adjacency_table).
        adj = gather_adjacency_table(edges, "src", directed)

        n = vertices.count()
        p = 1.0 / n
        d = damping

        # counts parallel edges (GetLocalOutDegree); memoized per graph
        deg = cached_degree_table(edges, vertices, adj, directed)
        # one aggregate pass PER GRAPH (memoized) yields the dangling count
        # AND the degree stats the auto hub-salt decision needs
        from libgrape_lite_spark.plans.kernels import cached_degree_stats, hub_salt_verdict

        n_dangling, max_deg, sum_deg = cached_degree_stats(
            edges, vertices, adj, directed
        )
        if hub_salts == "auto":
            hub_salts = hub_salt_verdict(
                spark, max_deg, sum_deg, hub_degree_factor, min_hub_degree
            )
        drv.info["pagerank_hub_salts"] = hub_salts

        def base_of(step: int) -> float:
            # the driver-side scalar recurrence, replayed from round 1 so a
            # resumed run computes the same scalars as an uninterrupted one
            dangling_sum = p * n_dangling
            for _ in range(step):
                base = (1.0 - d) / n + d * dangling_sum / n
                dangling_sum = base * n_dangling
            return base

        def superstep(state: DataFrame, step: int):
            base = base_of(step)
            if hub_salts > 0:
                contrib = adj.join(
                    state.select(F.col("id").alias("src"), "r"), "src"
                ).select(
                    F.col("dst").alias("id"),
                    (F.col("r") * F.col("cnt")).alias("r"),
                    F.pmod(F.hash("src"), F.lit(hub_salts)).alias("_salt"),
                )
                gathered = (
                    contrib.groupBy("id", "_salt")
                    .agg(F.sum("r").alias("partial"))
                    .groupBy("id")
                    .agg(F.sum("partial").alias("gathered"))
                )
            else:
                gathered = (
                    adj.join(
                        state.select(F.col("id").alias("src"), "r"), "src"
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.sum(F.col("r") * F.col("cnt")).alias("gathered"))
                )
            new_r = (
                F.when(
                    F.col("degree") > 0,
                    (d * F.coalesce("gathered", F.lit(0.0)) + base) / F.col("degree"),
                )
                .otherwise(base)
                .alias("r")
            )
            # prev_r only materialized when the convergence stop rule needs it —
            # it widens every superstep's checkpointed state by 25% otherwise
            prev_cols = [F.col("r").alias("prev_r")] if tol is not None else []
            new_state = (
                state.select("id", "degree", *prev_cols)
                .join(gathered, "id", "left")
                .select("id", "degree", new_r, *(["prev_r"] if tol is not None else []))
            )
            if tol is None:
                return new_state, {}
            # convergence on final-scale ranks: |Δ(r*deg)| for non-dangling,
            # |Δr| for dangling (degree multiplier applied at output). The
            # max delta is below tol exactly when no vertex's delta is at or
            # above it, so that count is the stop test; both ride the
            # materializing job.
            scale = F.when(F.col("degree") > 0, F.col("degree")).otherwise(F.lit(1.0))
            delta = F.abs((F.col("r") - F.col("prev_r")) * scale)
            return new_state, {
                "active": F.count(F.when(delta >= tol, True)),
                "max_delta": F.max(delta),
            }

        state = drv.run(
            lambda: deg.select(
                "id",
                "degree",
                F.when(F.col("degree") > 0, p / F.col("degree")).otherwise(p).alias("r"),
            ),
            superstep,
            max_rounds=max_rounds,
            op="pagerank",
        )

    # multiply back by degree for non-dangling (pagerank.h:202-214)
    return state.select(
        "id",
        F.when(F.col("degree") > 0, F.col("r") * F.col("degree"))
        .otherwise(F.col("r"))
        .alias("rank"),
    )


@graph_op
def pagerank_local(
    vertices: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    max_rounds: int = 10,
    directed: bool = False,
    driver: IterationDriver | None = None,
) -> DataFrame:
    """PageRankLocal parity — the GeminiGraph-style alternative formulation
    the reference ships for cross-system comparison
    (examples/analytical_apps/pagerank/pagerank_local.h:48-220):

    * ``r0[u] = outdeg(u) > 0 ? 1/outdeg(u) : 1.0`` (pagerank_local.h:57-60)
      — NOT 1/|V|-scaled, and no dangling-mass redistribution;
    * each round gathers over the vertex's OUT-adjacency
      (``GetOutgoingAdjList``, pagerank_local.h:85-99):
      ``nxt[u] = 1 - d + d · Σ_{(u,w) ∈ E} r[w]``;
    * every round except the last divides by the local out-degree
      (pagerank_local.h:199-206); the last round keeps the unscaled value
      (the analog of the LDBC app's multiply-back).

    Returns DataFrame(id, rank) after exactly ``max_rounds`` rounds.

    Spark plan per round: adjacency pre-partitioned ONCE by ``dst`` (the
    gather join key here — state attaches to the edge's head), one
    vertex-sized shuffle for the groupBy(src) sum.
    """
    spark = vertices.sparkSession
    drv = driver or IterationDriver(spark)

    with static_plans(spark):
        from libgrape_lite_spark.plans.kernels import (
            adjacency_table,
            cached_degree_table,
            gather_adjacency_table,
        )

        # the by-dst view CDLP gathers over (a mirror of the adjacency
        # undirected, one pinned copy directed); each row weighs ``cnt``
        adj = gather_adjacency_table(edges, "dst", directed)
        # parallel edges count (GetLocalOutDegree); memoized per graph —
        # one entry shared with pagerank, counted on the src-keyed adjacency
        deg = cached_degree_table(
            edges, vertices, adjacency_table(edges, directed), directed
        )
        d = damping

        def superstep(state: DataFrame, step: int):
            # the state keeps each round's undivided value ``x`` and the
            # out-degree division happens on the gather side, so every
            # committed superstep has the same form and a resumed run
            # continues exactly; the last round's ``x`` is the output
            r = F.when(F.col("degree") > 0, F.col("x") / F.col("degree")).otherwise(F.col("x"))
            gathered = (
                adj.join(state.select(F.col("id").alias("dst"), r.alias("r")), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum(F.col("r") * F.col("cnt")).alias("g"))
            )
            x = F.lit(1.0) - d + d * F.coalesce("g", F.lit(0.0))
            new_state = (
                state.select("id", "degree")
                .join(gathered, "id", "left")
                .select("id", "degree", x.alias("x"))
            )
            return new_state, {}

        # x0 = 1 gives r0 = outdeg > 0 ? 1/outdeg : 1 (pagerank_local.h:57-60)
        state = drv.run(
            lambda: deg.select("id", "degree", F.lit(1.0).alias("x")),
            superstep,
            max_rounds=max_rounds,
            op="pagerank_local",
        )

    return state.select("id", F.col("x").alias("rank"))
