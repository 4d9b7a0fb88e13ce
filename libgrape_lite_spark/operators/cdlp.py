"""CDLP — community detection by synchronous label propagation (LDBC).

Reference (examples/analytical_apps/cdlp/cdlp.h:37-162 + cdlp_utils.h:28-60):

* label starts as the vertex id (cdlp.h:116-129);
* exactly ``max_rounds`` (``--cdlp_mr``, default 10) synchronous rounds —
  new labels go to a separate array applied after the round (cdlp.h:52-88);
* update rule (cdlp_utils.h:34-59): the most frequent label among the
  vertex's out-neighbors — on the undirected doubled table that is all
  neighbors, and **each parallel edge contributes one count** (the loop
  iterates the adjacency list, not a set); **ties break to the smallest
  label** (list sorted ascending + strict ``>`` keeps the earliest run);
* vertices with no neighbors keep their current label (cdlp.h:64-65).

Spark plan per round:
    counts = edges ⋈ labels on dst → groupBy(src, label).sum(cnt)
    top    = max_by over (count desc, label asc)  — expressed as
             groupBy(src).agg(max(struct(cnt, negated-tiebreak...)))
We use ``F.max(F.struct(cnt, -label))`` instead of a window: a window with
``row_number`` would sort every group; max-of-struct is a plain aggregate
with map-side partial aggregation (one shuffle, no sort) — strictly better
at scale, identical result: max over (cnt, -label) == (max count, then min
label).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libgrape_lite_spark.plans.kernels import graph_op
from libgrape_lite_spark.plans.superstep import IterationDriver
from libgrape_lite_spark.session import static_plans


@graph_op
def cdlp(
    vertices: DataFrame,
    edges: DataFrame,
    max_rounds: int = 10,
    directed: bool = False,
    driver: IterationDriver | None = None,
    hub_salts: int | str = "auto",
    hub_degree_factor: float = 8.0,
    min_hub_degree: int = 1_000_000,
) -> DataFrame:
    """Returns DataFrame(id: long, label: long).

    Each round joins the labels onto the adjacency's by-dst view and
    aggregates in the JVM (count per (voter, label), then the
    max-of-struct pick) — no per-round Python. A per-fragment cogroup
    vote pre-count lost every pair to this path even on the salted
    power-law graph it targeted (BENCH/runs/cdlp_skew_1792261620.json).

    ``hub_salts`` — hub-skew protection behind the SAME auto detection
    PageRank uses (plans/kernels.py::hub_salt_verdict, reading the
    per-graph memoized degree stats — zero extra jobs after the first
    operator on a graph). When engaged, votes are counted two-level, per
    (voter, label, salt-of-dst) then per (voter, label) — sum is
    associative, identical result. Verdict at
    ``driver.info["cdlp_hub_salts"]``.
    """
    if not (hub_salts == "auto" or isinstance(hub_salts, int)):
        raise ValueError(f"hub_salts must be an int or 'auto', got {hub_salts!r}")
    spark = vertices.sparkSession
    drv = driver or IterationDriver(spark)

    with static_plans(spark):
        from libgrape_lite_spark.plans.kernels import (
            adjacency_table,
            cached_degree_stats,
            gather_adjacency_table,
            hub_salt_verdict,
        )

        if hub_salts == "auto":
            # degree stats come from the shared per-graph memo (one
            # aggregate per graph, shared with pagerank)
            _, max_deg, sum_deg = cached_degree_stats(
                edges, vertices, adjacency_table(edges, directed), directed
            )
            hub_salts = hub_salt_verdict(
                spark, max_deg, sum_deg, hub_degree_factor, min_hub_degree
            )
        drv.info["cdlp_hub_salts"] = hub_salts

        # the pinned adjacency's by-dst view (gather joins on dst each
        # round), shared with pagerank_local; each (src, dst) row votes
        # with its ``cnt`` parallel copies — multiplicity affects the
        # vote (cdlp_utils.h:31-33; plans/kernels.py gather_adjacency_table)
        adj = gather_adjacency_table(edges, "dst", directed)

        def superstep(state: DataFrame, step: int):
            # gather over out-adjacency: vertex u sees labels of its out-nbrs
            if hub_salts > 0:
                # two-level vote count: per (voter, label, salt-of-dst)
                # partials first, spreading a hub voter's rows over
                # hub_salts reducers, then the exact per-(voter, label)
                # sum — sum is associative, identical result
                counts = (
                    adj.join(state.select(F.col("id").alias("dst"), "label"), "dst")
                    .groupBy(
                        F.col("src").alias("id"),
                        "label",
                        F.pmod(F.hash("dst"), F.lit(hub_salts)).alias("_salt"),
                    )
                    .agg(F.sum("cnt").alias("pc"))
                    .groupBy("id", "label")
                    .agg(F.sum("pc").alias("cnt"))
                )
            else:
                counts = (
                    adj.join(state.select(F.col("id").alias("dst"), "label"), "dst")
                    .groupBy(F.col("src").alias("id"), "label")
                    .agg(F.sum("cnt").alias("cnt"))
                )
            top = counts.groupBy("id").agg(
                F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
            ).select("id", (-F.col("m.neg")).alias("new_label"))
            new_state = state.join(top, "id", "left").select(
                "id", F.coalesce("new_label", "label").alias("label")
            )
            return new_state, {}

        state = drv.run(
            lambda: vertices.select("id", F.col("id").alias("label")),
            superstep,
            max_rounds=max_rounds,
            op="cdlp",
        )

    return state.select("id", "label")
