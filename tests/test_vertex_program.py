"""The VertexProgram plug-in API reproduces the dedicated operators."""

from __future__ import annotations

import math

from tests.conftest import make_edges, make_vertices


def test_wcc_as_vertex_program(spark):
    from libgrape_lite_spark.operators import wcc
    from libgrape_lite_spark.plans.vertex_program import run_vertex_program, wcc_program

    v = make_vertices(spark, range(12))
    e = make_edges(
        spark, [(i, i + 1) for i in range(5)] + [(7, 8), (8, 9), (10, 11)]
    )
    want = {r["id"]: r["comp"] for r in wcc(v, e).collect()}
    got = {r["id"]: r["comp"] for r in run_vertex_program(v, e, wcc_program()).collect()}
    assert got == want


def test_sssp_as_vertex_program(spark):
    from libgrape_lite_spark.operators import sssp
    from libgrape_lite_spark.plans.vertex_program import run_vertex_program, sssp_program

    v = make_vertices(spark, range(8))
    e = make_edges(
        spark,
        [(0, 1, 2.0), (1, 2, 2.0), (0, 2, 10.0), (2, 3, 1.0), (5, 6, 1.0)],
    )
    want = {r["id"]: r["dist"] for r in sssp(v, e, source=0).collect()}
    got = {r["id"]: r["dist"] for r in run_vertex_program(v, e, sssp_program(0)).collect()}
    for k in want:
        if math.isinf(want[k]):
            assert math.isinf(got[k])
        else:
            assert got[k] == want[k]


def test_in_computation_mutation_edge_add(spark):
    """MutationContext parity (mutation_context.h:67-104, worker.h:176-187):
    an edge added BETWEEN supersteps joins two components mid-run; the
    fixpoint equals running from scratch on the mutated graph."""
    from libgrape_lite_spark.plans.vertex_program import (
        Mutation,
        run_vertex_program,
        wcc_program,
    )
    from tests.conftest import make_edges, make_vertices

    # two disjoint chains: 0-1-2 and 10-11-12
    edges = [(0, 1), (1, 2), (10, 11), (11, 12)]
    ids = sorted({x for e in edges for x in e})
    v, e = make_vertices(spark, ids), make_edges(spark, edges)

    def mutate(step, state):
        if step == 1:  # after the first superstep, bridge the components
            return Mutation(
                add_edges=spark.createDataFrame(
                    [(2, 10, 1.0)], "src long, dst long, weight double"
                )
            )
        return None

    got = {
        r["id"]: r["comp"]
        for r in run_vertex_program(v, e, wcc_program(), mutate=mutate).collect()
    }
    assert set(got.values()) == {0}  # single component labeled by min id
    assert got == {i: 0 for i in ids}


def test_in_computation_mutation_vertex_add_remove(spark):
    from libgrape_lite_spark.plans.vertex_program import (
        Mutation,
        run_vertex_program,
        wcc_program,
    )
    from tests.conftest import make_edges, make_vertices

    edges = [(0, 1), (5, 6)]
    v, e = make_vertices(spark, [0, 1, 5, 6]), make_edges(spark, edges)

    def mutate(step, state):
        if step == 1:
            return Mutation(
                add_vertices=spark.createDataFrame([(99,)], "id long"),
                add_edges=spark.createDataFrame(
                    [(1, 99, 1.0), (99, 5, 1.0)], "src long, dst long, weight double"
                ),
                remove_vertices=spark.createDataFrame([(6,)], "id long"),
            )
        return None

    got = {
        r["id"]: r["comp"]
        for r in run_vertex_program(v, e, wcc_program(), mutate=mutate).collect()
    }
    # 6 removed; 99 bridges 0-1 and 5 → everything collapses to comp 0
    assert got == {0: 0, 1: 0, 5: 0, 99: 0}


def test_mutation_remove_vertex_reactivates_neighbors(spark):
    """An in-degree-counting program converges, then a vertex is removed:
    the removal must re-activate the surviving opposite endpoints so the
    fixpoint resumes and recomputes through the changed topology
    (round-3 fix — before it, remove_vertices woke nobody and the stale
    in-degree survived)."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark.plans.vertex_program import (
        Mutation,
        VertexProgram,
        run_vertex_program,
    )
    from tests.conftest import make_vertices

    def init(vertices, edges):
        return vertices.select("id", F.lit(-1).cast("long").alias("val"))

    def apply(state, msgs):
        return (
            state.select("id", "val")
            .join(msgs, "id", "left")
            .select(
                "id",
                F.coalesce("msg", F.lit(0)).cast("long").alias("val"),
                (F.coalesce("msg", F.lit(0)).cast("long") != F.col("val")).alias(
                    "changed"
                ),
            )
        )

    prog = VertexProgram(
        init=init,
        message=lambda j: F.lit(1).cast("long"),
        merge="sum",
        apply=apply,
        directed=True,
        frontier_only=False,  # every round recounts: val = current in-degree
    )

    v = make_vertices(spark, [1, 2, 4])
    e = spark.createDataFrame([(1, 4, 1.0), (2, 4, 1.0)], "src long, dst long, weight double")

    fired = {"done": False}

    def mutate(step, state):
        # fire exactly when the program has converged (active would be 0)
        cur = {r["id"]: r["val"] for r in state.collect()}
        if not fired["done"] and cur.get(4) == 2:
            fired["done"] = True
            return Mutation(remove_vertices=spark.createDataFrame([(2,)], "id long"))
        return None

    got = {
        r["id"]: r["val"]
        for r in run_vertex_program(v, e, prog, mutate=mutate).collect()
    }
    assert fired["done"], "mutation never fired"
    # vertex 2 gone; vertex 4's in-degree must have been RECOMPUTED to 1
    assert got == {1: 0, 4: 1}


def test_vertex_program_releases_its_adjacency_pins(spark):
    """run_vertex_program pins its adjacency as a transient, and a re-pin
    after an edge mutation releases the pin it supersedes: repeated calls,
    each followed by release_transients(), leave the persistent-RDD count
    where it was."""
    from libgrape_lite_spark.plans.vertex_program import (
        Mutation,
        run_vertex_program,
        wcc_program,
    )
    from libgrape_lite_spark.transients import release_transients

    v = make_vertices(spark, range(12))
    e = make_edges(
        spark, [(i, i + 1) for i in range(5)] + [(7, 8), (8, 9), (10, 11)]
    )
    bridge = spark.createDataFrame([(5, 7, 1.0)], "src long, dst long, weight double")

    def mutate(step, state):
        return Mutation(add_edges=bridge) if step == 1 else None

    jsc = spark.sparkContext._jsc
    counts = []
    for call in range(4):
        out = run_vertex_program(
            v, e, wcc_program(), mutate=mutate if call % 2 else None
        )
        out.collect()
        release_transients()
        counts.append(jsc.getPersistentRDDs().size())
    assert len(set(counts)) == 1, counts
