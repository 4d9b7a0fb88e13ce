"""Dump explain('formatted') for the query paths touched in round 8.

Usage: python scripts/dump_plans_r08.py <out_dir> <suffix>
e.g.   python scripts/dump_plans_r08.py plans/r08 after

Writes <out_dir>/<name>_<suffix>.txt for:
  - edge_derivation      (the declared query's full plan)
  - graph_build_derive   (the with_prev/derivation build plan)
  - encode_vertices      (id-assignment plan)
  - pagerank_superstep   (gather join + combine over the prepared layout,
                          state shaped like a mid-loop checkpoint)
  - pagerank_local_superstep
  - cdlp_superstep       (dataframe vote count)
  - pie_superstep        (wcc/sssp auto and bfs local-fixpoint cogroup)
  - sssp_superstep       (frontier relax)
  - lcc_plan             (triangle intersect pipeline)

Run on the round-start commit for the *_before.txt files and on the final
tree for *_after.txt.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    out_dir = Path(sys.argv[1])
    suffix = sys.argv[2]
    out_dir.mkdir(parents=True, exist_ok=True)

    from pyspark.sql import functions as F

    from libgrape_lite_spark import get_spark
    from libgrape_lite_spark.functions.edges import build_graph_from_transcripts
    from libgrape_lite_spark.session import static_plans
    from libgrape_lite_spark.sources.events import events_to_transcripts

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    plans: dict[str, str] = {}

    # declared-query plans
    import __spark_entry__ as entry

    plans["edge_derivation"] = plan_of(entry._q_edges(spark, SF))
    plans["transcripts_turns"] = plan_of(entry._q_transcripts(spark, SF))

    t = events_to_transcripts(spark, SF)
    from libgrape_lite_spark.functions.edges import _with_prev

    plans["graph_build_derive"] = plan_of(_with_prev(t))

    from libgrape_lite_spark.functions.ids import encode_vertices

    plans["encode_vertices"] = plan_of(
        encode_vertices(t.select(F.col("conv_id").alias("oid")), num_partitions=8)
    )

    vertices, edges = build_graph_from_transcripts(t)
    vertices = vertices.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)

    from libgrape_lite_spark.plans.kernels import (
        cached_degree_table,
        cached_edge_balanced_bounds,
        gather_adjacency_table,
        local_min_fixpoint,
        pie_fragment_table,
        push_adjacency_table,
    )

    nf = 8
    with static_plans(spark):
        bounds = cached_edge_balanced_bounds(edges, nf, key="src")
        pie = pie_fragment_table(edges, nf, bounds, directed=False)
        gsrc = gather_adjacency_table(edges, "src", False)
        gdst = gather_adjacency_table(edges, "dst", False)
        push_w = push_adjacency_table(edges, directed=False, weighted=True)
        deg = cached_degree_table(edges, vertices, gsrc, False)

        # state shaped like a mid-loop checkpoint: id-hash partitioned AND
        # id-ordered — in the real loop every round's state is the output
        # of a sort-merge join on id, so its checkpoint carries both
        state = (
            deg.select(
                "id", "degree",
                F.when(F.col("degree") > 0, 1.0 / F.col("degree")).otherwise(0.1).alias("r"),
            )
            .repartition(nf, "id")
            .sortWithinPartitions("id")
            .localCheckpoint(eager=True)
        )

        gathered = (
            gsrc.join(state.select(F.col("id").alias("src"), "r"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("r") * F.col("cnt")).alias("gathered"))
        )
        new_state = (
            state.select("id", "degree")
            .join(gathered, "id", "left")
            .select(
                "id", "degree",
                F.when(F.col("degree") > 0,
                       (0.85 * F.coalesce("gathered", F.lit(0.0)) + 0.1) / F.col("degree"))
                .otherwise(0.1).alias("r"),
            )
        )
        plans["pagerank_superstep"] = plan_of(new_state)

        pl_gather = (
            gdst.join(state.select(F.col("id").alias("dst"), "r"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.col("r") * F.col("cnt")).alias("g"))
        )
        plans["pagerank_local_superstep"] = plan_of(
            state.select("id", "degree").join(pl_gather, "id", "left")
        )

        lab = state.select("id", F.col("id").alias("label")).localCheckpoint(eager=True)
        counts = (
            gdst.join(lab.select(F.col("id").alias("dst"), "label"), "dst")
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.sum("cnt").alias("cnt"))
        )
        top = counts.groupBy("id").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
        ).select("id", (-F.col("m.neg")).alias("new_label"))
        plans["cdlp_superstep"] = plan_of(
            lab.join(top, "id", "left").select(
                "id", F.coalesce("new_label", "label").alias("label")
            )
        )

        pie_adj = pie.where(F.col("src") != F.col("dst")).select("src", "dst", "part")
        plans["pie_superstep"] = plan_of(
            local_min_fixpoint(pie_adj, lab.select("id", F.col("label").alias("comp")),
                               "comp", nf, bounds=bounds)
        )

        # mid-loop-shaped state: id-hash partitioned + id-ordered, like the
        # checkpoint of a real round's full-outer-join output
        dist_state = (
            state.select(
                "id",
                (F.col("id") % 100).cast("double").alias("dist"),
                (F.col("id") % 7 == 0).alias("improved"),
            )
            .repartition(nf, "id")
            .sortWithinPartitions("id")
            .localCheckpoint(eager=True)
        )
        frontier = dist_state.where("improved").select("id", "dist")
        cand = (
            push_w.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("weight")).alias("nd"))
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        plans["sssp_superstep"] = plan_of(
            dist_state.select("id", "dist").join(cand, "id", "full")
        )

    from libgrape_lite_spark.operators import lcc

    plans["lcc_plan"] = plan_of(lcc(vertices, edges))

    for name, text in plans.items():
        (out_dir / f"{name}_{suffix}.txt").write_text(text)
        print("wrote", out_dir / f"{name}_{suffix}.txt")


if __name__ == "__main__":
    main()
