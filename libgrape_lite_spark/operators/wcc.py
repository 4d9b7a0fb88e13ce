"""WCC — weakly connected components via hash-min label propagation.

Semantics of the reference app (examples/analytical_apps/wcc/wcc.h:38-228):
component label starts as the vertex id (wcc.h:140-153), every round each
vertex takes ``min(own, min over neighbors)`` (push wcc.h:95-125 / pull
wcc.h:50-91 — identical fixpoint), runs on the undirected (doubled) edge
table, terminates when no label changed (wcc.h:158-163; Spark analog:
``active == 0`` on the changed-delta count). Component id at fixpoint =
min vertex id of the component; the golden comparator only checks up to
relabeling (misc/wcc_check.cc:28-71).

Two implementations, both driven by ``IterationDriver.run``:

* ``impl="auto"`` (default) — the PIE path (wcc_auto.h): each range-
  partitioned fragment runs a local min-label fixpoint per superstep, then
  one ``groupBy(id).min`` combine shuffle. The reference's per-round
  push↔pull switch (wcc.h:198-209) maps here: a fragment's local fixpoint
  is the dense whole-fragment pass, and only improved labels cross
  fragments, as in the sparse push. A frontier-push join with that switch
  and a pointer jump lost 9/10 paired runs to this path at sf0.01 and 8/10
  at sf0.1 on 4 cores (BENCH/runs/wcc_sssp_ab_1792300951.json) and was
  deleted.
* ``impl="twostar"`` — the high-diameter escape hatch: hash-min converges
  in O(diameter) rounds (O(cross-fragment diameter) for ``auto``), while
  large-star/small-star (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14) needs O(log² V) rounds independent of
  diameter — the right choice for path- or mesh-like graphs. Link graphs
  (small diameter) keep ``auto``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
) -> DataFrame:
    """Returns DataFrame(id: long, comp: long).

    ``vertices(id)``, ``edges(src, dst, ...)`` — direction ignored
    (undirected doubling applied internally, SURVEY.md §1.4).

    ``impl``:
      * ``"auto"`` (default) — wcc_auto parity (wcc_auto.h:46-135): range-
        partitioned fragments run a LOCAL min-label fixpoint per superstep
        (plans/kernels.py:local_min_fixpoint), so each global round does
        O(local diameter) plain rounds' work; conversation chains occupy
        contiguous dense-id ranges and collapse in superstep 1. Long-typed,
        resumable.
      * ``"twostar"`` — large-star/small-star alternation (Kiveris et al.,
        SoCC'14): O(log² V) rounds independent of graph DIAMETER — the
        escape hatch for path-/mesh-like graphs where ``auto`` needs
        O(cross-fragment diameter) supersteps.
    """
    if impl not in ("auto", "twostar"):
        raise ValueError(f"impl must be auto|twostar, got {impl!r}")
    drv = driver or IterationDriver(vertices.sparkSession)
    if impl == "twostar":
        return _wcc_two_star(vertices, edges, drv, max_rounds)
    return _wcc_auto(vertices, edges, drv, max_rounds, num_fragments)


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

        def superstep(state: DataFrame, step: int):
            # edge-set size rides the materializing job (observe)
            return small_star(large_star(state)), {"n": F.count(F.lit(1))}

        sizes: dict[str, int] = {}

        def stable(prev: DataFrame, state: DataFrame, step: int, observed: dict):
            # set-stability check: same size and no edge left the set ⇒
            # fixpoint (both stars are deterministic set functions). The
            # previous size is carried from the last round; only the first
            # round after init or resume counts the previous set.
            n_prev = sizes["n"] if sizes else prev.count()
            sizes["n"] = observed["n"]
            if observed["n"] != n_prev:
                return state, 1
            return state, state.subtract(prev).limit(1).count()

        state = drv.run(
            lambda: e, superstep, max_rounds=max_rounds, op="wcc_twostar", settle=stable
        )

    # star forest: src → component min; roots/isolated vertices = own id
    parents = state.groupBy("src").agg(F.min("dst").alias("comp"))
    return (
        vertices.select("id")
        .join(parents.withColumnRenamed("src", "id"), "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
    )


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
    from libgrape_lite_spark.plans.kernels import (
        cached_edge_balanced_bounds,
        local_min_fixpoint,
        pie_fragment_table,
    )

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

        def superstep(state: DataFrame, step: int):
            nbr_min = local_min_fixpoint(adj, state, "comp", nf, bounds=bounds)
            new_state = state.join(nbr_min, "id", "left").select(
                "id",
                F.least("comp", F.coalesce("gathered", "comp")).alias("comp"),
                (F.col("gathered") < F.col("comp")).alias("changed"),
            )
            return new_state, {"active": F.count(F.when(F.col("changed"), True))}

        state = drv.run(
            lambda: vertices.select("id", F.col("id").alias("comp")),
            superstep,
            max_rounds=max_rounds,
            op="wcc_auto",
        )
    return state.select("id", "comp")
