"""VertexProgram — the engine's public "plug in a sequential algorithm" API.

Parity target: the reference's PIE app surface, where a user supplies
PEval/IncEval plus a message aggregator and the runtime drives the fixpoint
(grape/app/auto_app_base.h:38-73; aggregator lambdas in sync_buffer.h:78-84;
worker loop worker.h:87-133). The Spark-native contract:

* ``init(vertices, edges) -> state``          (PEval's ctx.Init)
* ``message(edges ⋈ state) -> Column``        (what an edge sends to dst)
* ``merge ∈ {min, max, sum, count}``          (the aggregator — exactly the
  decomposable set the reference's auto message manager supports,
  auto_parallel_message_manager.h:125-144)
* ``apply(state, msgs) -> state'`` with a boolean ``changed`` column
  (IncEval's per-vertex update; the changed-count is the termination test —
  "no messages sent" ⇔ no vertex changed)

The loop itself is :meth:`~libgrape_lite_spark.plans.superstep.IterationDriver.run`,
the same one every built-in iterative operator runs on: lineage
truncation, checkpoint/resume, metrics, and the changed-count stop test,
which rides each superstep's materializing job (no separate count job).
A ``mutate`` hook runs after each superstep is materialized. User code
never touches iteration mechanics, exactly like the reference.

``tests/test_vertex_program.py`` re-expresses WCC and SSSP as programs and
checks them against the dedicated operators.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from libgrape_lite_spark.functions.edges import undirected
from libgrape_lite_spark.plans.kernels import release_pinned
from libgrape_lite_spark.plans.superstep import IterationDriver
from libgrape_lite_spark.session import static_plans
from libgrape_lite_spark.transients import pin, register

_MERGE = {"min": F.min, "max": F.max, "sum": F.sum, "count": F.count}


@dataclass
class VertexProgram:
    """A declarative PIE program.

    ``message`` receives the joined frame where each row is an edge with
    its source's state columns attached (edge cols + state cols except
    ``id``) and returns the message value column sent to ``dst``.
    ``apply`` receives (state, msgs(id, msg)) and returns the new state
    including a boolean ``changed``.
    """

    init: Callable[[DataFrame, DataFrame], DataFrame]
    message: Callable[[DataFrame], Column]
    merge: str
    apply: Callable[[DataFrame, DataFrame], DataFrame]
    directed: bool = False
    frontier_only: bool = True  # only changed vertices emit messages (IncEval)


@dataclass
class Mutation:
    """In-computation graph mutation, applied BETWEEN supersteps — the
    analog of ``MutationContext`` (grape/app/mutation_context.h:67-104),
    which queues add/remove vertex/edge requests during round k that the
    worker applies before round k+1 (worker.h:176-187 processMutation).

    ``add_edges``/``remove_edges``: DataFrame(src, dst[, weight...]) in the
    program's edge schema (direction as given; undirected programs double
    internally). ``add_vertices``/``remove_vertices``: DataFrame(id).

    Endpoints of mutated edges and added vertices are re-activated
    (``changed = true``) so propagation resumes through the new topology —
    the reference's behavior. NOTE (same caveat as the reference): removal
    only re-activates; an algorithm whose established state is not monotone
    under removal (e.g. WCC after an edge delete) must be re-run — the
    base+delta rebuild path (sources/tsv.py::load_mutable_graph_tsv).
    """

    add_edges: DataFrame | None = None
    remove_edges: DataFrame | None = None
    add_vertices: DataFrame | None = None
    remove_vertices: DataFrame | None = None


def run_vertex_program(
    vertices: DataFrame,
    edges: DataFrame,
    program: VertexProgram,
    driver: IterationDriver | None = None,
    max_rounds: int | None = None,
    mutate: "Callable[[int, DataFrame], Mutation | None] | None" = None,
) -> DataFrame:
    """Drive ``program`` to its fixpoint; returns the final state
    (without the ``changed`` bookkeeping column).

    ``mutate(superstep, state)`` — optional MutationContext hook, called
    after every superstep; a returned :class:`Mutation` is applied to the
    adjacency and state before the next round (None = no mutation)."""
    spark = vertices.sparkSession
    drv = driver or IterationDriver(spark)
    merge_fn = _MERGE[program.merge]

    with static_plans(spark):
        # the program's own per-edge adjacency (its sum/count merges see
        # parallel edges as rows), pinned as a transient: the caller's
        # release_transients() frees it once the result is consumed
        adj = edges if program.directed else undirected(edges)
        adj = register(pin(adj.repartition("src")))

        def init() -> DataFrame:
            state = program.init(vertices, edges)
            if "changed" not in state.columns:
                state = state.withColumn("changed", F.lit(True))
            return state

        def superstep(state: DataFrame, step: int):
            senders = state.where("changed") if program.frontier_only else state
            joined = adj.join(senders.withColumnRenamed("id", "src"), "src")
            msgs = (
                joined.select(F.col("dst").alias("id"), program.message(joined).alias("m"))
                .groupBy("id")
                .agg(merge_fn("m").alias("msg"))
            )
            return program.apply(state, msgs), {
                "active": F.count(F.when(F.col("changed"), True))
            }

        def apply_mutation(prev: DataFrame, state: DataFrame, step: int, observed: dict):
            nonlocal adj
            active = observed["active"]
            mut = mutate(step, state)
            if mut is not None:
                old = adj
                adj, state = _apply_mutation(program, adj, state, mut)
                state = drv.materialize(state, step)
                if adj is not old:
                    release_pinned(old)  # superseded by the re-pin
                active = max(active, state.where("changed").count())
            return state, active

        state = drv.run(
            init,
            superstep,
            max_rounds=max_rounds,
            op="vertex_program",
            settle=apply_mutation if mutate is not None else None,
        )
    return state.drop("changed")


def _apply_mutation(
    program: VertexProgram, adj: DataFrame, state: DataFrame, mut: Mutation
) -> tuple[DataFrame, DataFrame]:
    """processMutation (worker.h:176-187): splice edge/vertex deltas into
    the cached adjacency + state, re-activating affected vertices."""
    touched = None  # ids to re-activate

    def collect_ids(df: DataFrame) -> DataFrame:
        return df.select(F.col("src").alias("id")).unionByName(
            df.select(F.col("dst").alias("id"))
        )

    if mut.add_edges is not None:
        delta = mut.add_edges if program.directed else undirected(mut.add_edges)
        for c in adj.columns:  # align schema (fill weight etc. if absent)
            if c not in delta.columns:
                delta = delta.withColumn(c, F.lit(None).cast(adj.schema[c].dataType))
        adj = adj.unionByName(delta.select(adj.columns))
        touched = collect_ids(mut.add_edges)
    if mut.remove_edges is not None:
        rm = mut.remove_edges if program.directed else undirected(mut.remove_edges)
        adj = adj.join(rm.select("src", "dst"), ["src", "dst"], "left_anti")
        ids = collect_ids(mut.remove_edges)
        touched = ids if touched is None else touched.unionByName(ids)
    if mut.remove_vertices is not None:
        ids = mut.remove_vertices.select("id")
        # surviving neighbors of a removed vertex lose incident edges —
        # re-activate them (collected BEFORE the anti-join) so propagation
        # resumes through the changed topology, matching processMutation's
        # re-activation of mutated-edge endpoints (worker.h:176-187)
        nbrs = (
            adj.join(ids.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .unionByName(
                adj.join(ids.withColumnRenamed("id", "dst"), "dst")
                .select(F.col("src").alias("id"))
            )
            .join(ids, "id", "left_anti")
        )
        touched = nbrs if touched is None else touched.unionByName(nbrs)
        adj = adj.join(ids.withColumnRenamed("id", "src"), "src", "left_anti").join(
            ids.withColumnRenamed("id", "dst"), "dst", "left_anti"
        )
        state = state.join(ids, "id", "left_anti")
    # re-partition + re-pin the mutated adjacency once (same contract as the
    # initial PrepareToRunApp step)
    if mut.add_edges is not None or mut.remove_edges is not None or mut.remove_vertices is not None:
        adj = register(pin(adj.repartition("src")))
    if mut.add_vertices is not None:
        init_new = program.init(mut.add_vertices.select("id"), adj)
        if "changed" not in init_new.columns:
            init_new = init_new.withColumn("changed", F.lit(True))
        init_new = init_new.withColumn("changed", F.lit(True))
        state = state.join(mut.add_vertices.select("id"), "id", "left_anti").unionByName(
            init_new.select(state.columns)
        )
    if touched is not None:
        state = state.join(
            touched.distinct().withColumn("_touch", F.lit(True)), "id", "left"
        ).select(
            *[c for c in state.columns if c != "changed"],
            (F.col("changed") | F.coalesce("_touch", F.lit(False))).alias("changed"),
        )
    return adj, state


# ---------------------------------------------------------------- examples
def wcc_program() -> VertexProgram:
    """Hash-min WCC as a plug-in program (wcc_auto.h's aggregator is min,
    wcc_auto_context.h:56-67)."""

    def init(vertices, edges):
        return vertices.select("id", F.col("id").alias("comp"))

    def apply(state, msgs):
        return (
            state.select("id", "comp")
            .join(msgs, "id", "left")
            .select(
                "id",
                F.least("comp", F.coalesce("msg", "comp")).alias("comp"),
                (F.col("msg") < F.col("comp")).alias("changed"),
            )
        )

    return VertexProgram(init=init, message=lambda j: F.col("comp"), merge="min", apply=apply)


def sssp_program(source: int, directed: bool = False) -> VertexProgram:
    """Frontier Bellman-Ford as a plug-in program (sssp_auto aggregator =
    min, sssp_auto_context.h:46-54)."""

    def init(vertices, edges):
        return vertices.select(
            "id",
            F.when(F.col("id") == source, 0.0)
            .otherwise(float("inf"))
            .alias("dist"),
            (F.col("id") == source).alias("changed"),
        )

    def apply(state, msgs):
        return (
            state.select("id", "dist")
            .join(msgs, "id", "left")
            .select(
                "id",
                F.least("dist", F.coalesce("msg", "dist")).alias("dist"),
                (F.col("msg") < F.col("dist")).alias("changed"),
            )
        )

    return VertexProgram(
        init=init,
        message=lambda j: F.col("dist") + F.col("weight"),
        merge="min",
        apply=apply,
        directed=directed,
    )
