"""WCC — weakly connected components via hash-min label propagation.

Semantics of the reference app (examples/analytical_apps/wcc/wcc.h:38-228):
component label starts as the vertex id (wcc.h:140-153), every round each
vertex takes ``min(own, min over neighbors)`` (push wcc.h:95-125 / pull
wcc.h:50-91 — identical fixpoint), runs on the undirected (doubled) edge
table, terminates when no label changed (wcc.h:158-163; Spark analog:
``active == 0`` on the changed-delta count). Component id at fixpoint =
min vertex id of the component; the golden comparator only checks up to
relabeling (misc/wcc_check.cc:28-71).

Spark plan per superstep (one shuffle + one join, evaluated ONCE):
    nbr_min = edges ⋈ comp on src → groupBy(dst).min(comp)   # message pass
    comp'   = comp ⟕ nbr_min → least(comp, nbr_min)           # apply
The superstep state is localCheckpoint-ed eagerly, then the changed-count
(termination test == the reference's global message count,
default_message_manager.h:324-350) is a cheap count over the cached copy.
Map-side partial aggregation in the groupBy is the analog of per-fragment
message dedup (SURVEY.md §2.4); AQE skew-join handles hub vertices.

Scale note: hash-min converges in O(diameter) rounds; for very-high-diameter
graphs the classic escape hatch is large-star/small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), available here as
``impl="twostar"`` — rounds are O(log² V) independent of diameter, the right
choice when neither frontier push nor the PIE fragments can amortize a long
chain. Link graphs (small diameter) keep ``impl="auto"`` as the default.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libgrape_lite_spark.plans.kernels import push_adjacency_table
from libgrape_lite_spark.plans.kernels import graph_op
from libgrape_lite_spark.plans.superstep import IterationDriver
from libgrape_lite_spark.session import static_plans


@graph_op
def wcc(
    vertices: DataFrame,
    edges: DataFrame,
    driver: IterationDriver | None = None,
    max_rounds: int | None = None,
    impl: str = "auto",
    num_fragments: int | None = None,
    jump: bool = True,
    pull_fraction: float = 0.1,
) -> DataFrame:
    """Returns DataFrame(id: long, comp: long).

    ``vertices(id)``, ``edges(src, dst, ...)`` — direction ignored
    (undirected doubling applied internally, SURVEY.md §1.4).

    ``impl``:
      * ``"auto"`` (default) — wcc_auto parity (wcc_auto.h:46-135): range-
        partitioned fragments run a LOCAL min-label fixpoint per superstep
        (plans/kernels.py:local_min_fixpoint), so each global round does
        O(local diameter) plain rounds' work; conversation chains occupy
        contiguous dense-id ranges and collapse in superstep 1. Fastest
        measured impl (sf0.1: 4.9s vs 6.3-6.6s), long-typed, resumable.
      * ``"dataframe"`` — frontier-push join; with ``jump=True`` each round
        adds a pointer-jump self-join (``comp' = comp[comp]``, the
        shortcutting half of Kiveris et al.'s two-phase rounds), so
        convergence needs O(log diameter) instead of O(diameter) rounds.
        Rounds are push↔pull adaptive like the reference (wcc.h:198-209
        switches per round on the active fraction): while more than
        ``pull_fraction``·|V| vertices changed last round, the next round
        gathers from ALL vertices (the pull — no frontier filter, one full
        edges⋈state pass); once the frontier is sparse it switches to
        push-from-changed. Identical per-round results either way
        (min-propagation is monotone and earlier sends are permanent);
        the switch only trades frontier-filter overhead against full-pass
        cost, exactly the reference's trade.
      * ``"twostar"`` — large-star/small-star alternation (Kiveris et al.,
        SoCC'14): O(log² V) rounds independent of graph DIAMETER — the
        escape hatch for path-/mesh-like graphs where every other impl
        needs O(diameter) (or O(cross-fragment diameter)) supersteps.
    """
    if impl not in ("dataframe", "auto", "twostar"):
        raise ValueError(f"impl must be dataframe|auto|twostar, got {impl!r}")
    spark = vertices.sparkSession
    drv = driver or IterationDriver(spark)

    if impl == "auto":
        return _wcc_auto(vertices, edges, drv, max_rounds, num_fragments)
    if impl == "twostar":
        return _wcc_two_star(vertices, edges, drv, max_rounds)

    with static_plans(spark):
        # Both directions once; parallel edges/self-loops add nothing to a
        # min-aggregate, so dedup shrinks every subsequent shuffle.
        # Pre-partition the (big) adjacency by the per-round join key ONCE
        # — shared across operator calls on this edge table
        # (plans/kernels.py:push_adjacency_table): localCheckpoint
        # preserves outputPartitioning, so every superstep's join exchanges
        # only the vertex-sized state side (verified via .explain — Scan
        # ExistingRDD feeds the join with no Exchange above it).
        adj = push_adjacency_table(edges, directed=False, weighted=False)

        resumed = drv.latest_checkpoint()
        if resumed is not None:
            state, step = resumed
        else:
            step = 0
            state = drv.materialize(
                vertices.select("id", F.col("id").alias("comp"), F.lit(True).alias("changed")),
                step,
            )

        n_vertices = vertices.count()
        dense = True  # round 1: every label was just initialized → all active

        while max_rounds is None or step < max_rounds:
            t0 = time.time()
            step += 1
            # Adaptive push↔pull (wcc.h:198-209): dense rounds gather from
            # ALL vertices (pull — no frontier filter); sparse rounds push
            # only from vertices whose comp changed last round (the
            # reference's `curr_modified` set, wcc.h:95-125) — monotone
            # min-propagation makes earlier sends permanent, so the sparse
            # join shrinks with the frontier instead of staying O(E).
            frontier = state if dense else state.where("changed")
            senders = frontier.select(F.col("id").alias("src"), "comp")
            nbr_min = (
                adj.join(senders, "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("comp").alias("nbr_comp"))
            )
            half = state.select("id", F.col("comp").alias("comp0")).join(
                nbr_min, "id", "left"
            ).select(
                "id", "comp0", F.least("comp0", F.coalesce("nbr_comp", "comp0")).alias("comp")
            )
            if jump:
                # pointer jump (comp' = comp[comp]): every label is a vertex
                # id, so one O(V) self-join per round halves the remaining
                # label-tree height — O(log d) total rounds. Labels only
                # decrease, so coalesce(least) keeps monotonicity.
                jump_map = half.select(
                    F.col("id").alias("comp"), F.col("comp").alias("comp2")
                )
                new_state = half.join(jump_map, "comp", "left").select(
                    "id",
                    F.least("comp", F.coalesce("comp2", "comp")).alias("comp"),
                    (F.least("comp", F.coalesce("comp2", "comp")) < F.col("comp0")).alias("changed"),
                )
            else:
                new_state = half.select(
                    "id", "comp", (F.col("comp") < F.col("comp0")).alias("changed")
                )
            # termination count rides the materializing job (observe) —
            # no second per-round count job over the cached state
            state, m = drv.materialize_observed(
                new_state, step, F.count(F.when(F.col("changed"), True)).alias("active")
            )
            active = m["active"]
            dense = active > pull_fraction * n_vertices
            drv.log(step, active, time.time() - t0, op="wcc", dense=dense)
            if active == 0:
                break

    drv.finish()
    return state.select("id", "comp")


def _wcc_two_star(
    vertices: DataFrame,
    edges: DataFrame,
    drv: IterationDriver,
    max_rounds: int | None,
) -> DataFrame:
    """Large-star/small-star WCC (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14, Alg. 2 "alternating") — the published
    shuffle-round-optimal formulation, re-expressed as DataFrame algebra:

    * **large-star** on the symmetrized edge set: every vertex u links each
      strictly-LARGER neighbor v to ``m(u) = min(Γ(u) ∪ {u})`` —
      ``B ⋈ groupBy(u).min`` then ``(v, m)`` for ``v > u``;
    * **small-star** on edges oriented toward the larger endpoint: every u
      links each smaller neighbor AND itself to the minimum —
      ``(v, m) ∪ (u, m)``.

    Both preserve connectivity and strictly shrink the forest height; the
    alternation converges (edge set reaches a fixpoint) in O(log² V)
    rounds REGARDLESS of graph diameter — a 10⁶-long reply chain takes
    ~⌈log⌉ rounds here vs 10⁶ frontier pushes. At the fixpoint every edge
    is (v, component-min), i.e. a star forest; labels read off directly.
    Each round = 3 vertex/edge-keyed shuffles (two stars + the stability
    anti-join), all map-side combined; no driver-side data beyond counts.
    """
    with static_plans(vertices.sparkSession):
        e = (
            edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )

        def swap(df: DataFrame) -> DataFrame:
            return df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))

        def large_star(df: DataFrame) -> DataFrame:
            b = df.unionByName(swap(df))
            m = b.groupBy("src").agg(F.min("dst").alias("mv"))
            m = m.select("src", F.least("mv", F.col("src")).alias("m"))
            return (
                b.join(m, "src")
                .where(F.col("dst") > F.col("src"))
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                .where(F.col("src") != F.col("dst"))
                .distinct()
            )

        def small_star(df: DataFrame) -> DataFrame:
            b = df.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            ).where(F.col("src") != F.col("dst"))
            m = b.groupBy("src").agg(F.min("dst").alias("m"))
            linked = (
                b.join(m, "src")
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                .unionByName(m.select("src", F.col("m").alias("dst")))
                .where(F.col("src") != F.col("dst"))
                .distinct()
            )
            return linked

        step = 0
        state = drv.materialize(e, step)
        n_prev = state.count()
        while max_rounds is None or step < max_rounds:
            import time as _time

            t0 = _time.time()
            step += 1
            new = small_star(large_star(state))
            # edge-set size rides the materializing job (observe); the
            # previous round's size is carried in a driver variable, so
            # the stability check costs zero extra jobs until sizes match
            new, m = drv.materialize_observed(
                new, step, F.count(F.lit(1)).alias("n")
            )
            n_new = m["n"]
            # set-stability check: same size and no edge left the set ⇒
            # fixpoint (both stars are deterministic set functions)
            changed = 1
            if n_new == n_prev:
                changed = new.subtract(state).limit(1).count()
            state, n_prev = new, n_new
            drv.log(step, changed, _time.time() - t0, op="wcc_twostar")
            if changed == 0:
                break

    drv.finish()
    # star forest: src → component min; roots/isolated vertices = own id
    parents = state.groupBy("src").agg(F.min("dst").alias("comp"))
    out = (
        vertices.select("id")
        .join(parents.withColumnRenamed("src", "id"), "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
    )
    return out


def _wcc_auto(
    vertices: DataFrame,
    edges: DataFrame,
    drv: IterationDriver,
    max_rounds: int | None,
    num_fragments: int | None,
) -> DataFrame:
    """PIE-model WCC (wcc_auto.h:46-135): every superstep each RANGE-
    partitioned fragment runs a local min-label fixpoint over its own edges
    (plans/kernels.py:local_min_fixpoint) and ships only improved labels;
    the global combine is groupBy(id).min. Dense ids are oid-ordered, so a
    conversation's reply chain is a contiguous id range → one fragment →
    collapses entirely in superstep 1; remaining supersteps reconcile only
    cross-fragment edges (tool hubs, role vertices). Superstep count drops
    from O(diameter) to O(cross-fragment diameter)."""
    import time as _time

    from libgrape_lite_spark.plans.kernels import (
        cached_edge_balanced_bounds,
        local_min_fixpoint,
        pie_fragment_table,
    )
    from libgrape_lite_spark.session import static_plans

    spark = vertices.sparkSession
    with static_plans(spark):
        nf = num_fragments or int(spark.conf.get("spark.sql.shuffle.partitions"))
        # fragment boundaries from EDGE-COUNT quantiles (Rebalancer parity,
        # rebalancer.h:28-45): a skewed graph still yields ≈E/nf edges per
        # contiguous range; results are partitioning-invariant. Quantiles
        # are taken over the RAW (pre-doubling) src column — one narrow
        # column scan instead of materializing the doubled table twice —
        # and MEMOIZED per edge table, so the scan happens once per graph,
        # not once per operator call; the boundary approximation only
        # shifts fragment balance, never correctness. The fragment table
        # itself is shared the same way (PrepareToRunApp-once parity):
        # wcc takes narrow projections off the pinned table — self-loops
        # and weights are invisible to min-label propagation.
        bounds = cached_edge_balanced_bounds(edges, nf, key="src")
        adj = (
            pie_fragment_table(edges, nf, bounds, directed=False)
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst", "part")
        )

        resumed = drv.latest_checkpoint()
        if resumed is not None:
            state, step = resumed
            state = state.select("id", "comp")
        else:
            step = 0
            state = drv.materialize(
                vertices.select("id", F.col("id").alias("comp")), step
            )
        while max_rounds is None or step < max_rounds:
            t0 = _time.time()
            step += 1
            nbr_min = local_min_fixpoint(adj, state, "comp", nf, bounds=bounds)
            new_state = state.join(nbr_min, "id", "left").select(
                "id",
                F.least("comp", F.coalesce("gathered", "comp")).alias("comp"),
                (F.col("gathered") < F.col("comp")).alias("changed"),
            )
            state, m = drv.materialize_observed(
                new_state, step, F.count(F.when(F.col("changed"), True)).alias("active")
            )
            active = m["active"]
            drv.log(step, active, _time.time() - t0, op="wcc_auto")
            if active == 0:
                break

    drv.finish()
    return state.select("id", "comp")
