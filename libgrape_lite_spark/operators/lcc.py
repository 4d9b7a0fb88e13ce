"""LCC — local clustering coefficient via degree-ordered triangle counting.

Reference pipeline (examples/analytical_apps/lcc/lcc.h:38-247):

* stage 0-1: degree = full adjacency-list length on the undirected doubled
  table **including parallel duplicates** (GetLocalOutDegree, lcc.h:61-65);
  orientation keeps neighbor u in v's list iff ``deg(u) < deg(v)`` or
  ``deg equal and id(u) < id(v)`` (lcc.h:96-124) — a total order, so every
  triangle is counted exactly once; neighbor *sets* are deduplicated
  (hash-set, lcc.h:154-160) and self-loops never pass the strict order.
* stage 2: for each wedge u→v, v→w in the oriented graph, if u→w exists,
  all three corners' triangle counts += 1 (lcc.h:154-186).
* stage 3: ``lcc[v] = 2*tri[v] / (deg[v]*(deg[v]-1))``, 0 when deg < 2
  (lcc.h:217-231).

Spark plan (non-iterative — joins only, Catalyst/AQE pick the strategies):

    deg      = adjacency.groupBy(src).sum(cnt)               # with dups
    nbr      = adjacency where src != dst (set semantics)
    oriented = nbr where (deg(src), src) < (deg(dst), dst)    # lexicographic
    wedges   = oriented ⋈ oriented on mid vertex
    tri      = wedges ⋈ oriented on (lo, hi)                  # closing edge
    corners  = explode(u, v, w) → groupBy(id).count()

Scale: orientation bounds every oriented out-degree by O(√E) (standard
result, cf. Suri & Vassilvitskii WWW'11 "Counting Triangles and the Curse
of the Last Reducer"), so the wedge join is Σ d_oriented² ≤ E^1.5 — the
best known shuffle bound; skewed hubs become *sources* of few oriented
edges rather than join hot keys, and AQE skew-join covers the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libgrape_lite_spark.plans.kernels import graph_op
from libgrape_lite_spark.transients import pin, register


@graph_op
def triangle_counts(
    vertices: DataFrame, edges: DataFrame, impl: str = "intersect",
    degree_threshold: int | None = None, _deg: DataFrame | None = None,
) -> DataFrame:
    """DataFrame(id, tri) — number of triangles containing each vertex
    (set semantics on neighbors, reference stage 2).

    ``degree_threshold`` — the reference's super-hub escape hatch
    (lcc.h:234-243 ``filterByDegree``, flags.cc:36 ``--degree_threshold``):
    vertices whose (duplicate-counting) degree exceeds the threshold build
    no oriented adjacency and join no intersection, so every triangle
    containing such a vertex is uncounted and the vertex's own count is 0.
    At 100 TB this bounds the fattest oriented adjacency list (a tool-hub
    vertex with 10⁹ neighbors would otherwise dominate the wedge/intersect
    stage); ``None`` = exact (reference default: int max).

    ``impl``:
      * ``"intersect"`` (default) — per-edge sorted-neighbor-list
        intersection (``array_intersect``, JVM-side): ship each oriented
        adjacency list to the edges that need it and intersect in place —
        the DataFrame rendition of the reference's hash-set probe
        (lcc.h:154-186). Shuffles O(Σ deg_oriented) list payload, never
        materializes the wedge set.
      * ``"wedge"`` — classic 3-way wedge join; materializes
        O(Σ deg_oriented²) wedge rows. Kept as the fallback for graphs
        whose oriented adjacency lists are too fat for array payloads.
    """
    if impl not in ("intersect", "wedge"):
        raise ValueError(f"impl must be intersect|wedge, got {impl!r}")
    from libgrape_lite_spark.plans.kernels import push_adjacency_table

    deg = _deg if _deg is not None else _degrees(vertices, edges)

    # distinct non-self-loop pairs — a view of the graph's pinned
    # adjacency (prep shared across operators on one edge table)
    nbr = push_adjacency_table(edges, directed=False, weighted=False)
    ranked = (
        nbr.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("sdeg")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddeg")), "dst")
    )
    if degree_threshold is not None:
        # reference parity: an edge with EITHER endpoint above the threshold
        # never enters the oriented graph (a filtered hub appears in w's
        # list only if deg(hub) < deg(w), making w filtered too — so all
        # incident edges vanish, lcc.h:98,164).
        ranked = ranked.where(
            (F.col("sdeg") <= degree_threshold) & (F.col("ddeg") <= degree_threshold)
        )
    # registered: the returned triangle counts read it lazily, and the
    # caller's release_transients() frees it once they are consumed
    oriented = register(
        pin(
            ranked.where(
                (F.col("sdeg") < F.col("ddeg"))
                | ((F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
            ).select("src", "dst")
        )
    )

    if impl == "intersect":
        adj_list = oriented.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("nbrs")
        )
        au = adj_list.select(F.col("src").alias("u"), F.col("nbrs").alias("nu"))
        av = adj_list.select(F.col("src").alias("v"), F.col("nbrs").alias("nv"))
        triangles = (
            oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .join(au, "u")
            .join(av, "v")  # v without oriented out-nbrs closes no triangle
            .select("u", "v", F.explode(F.array_intersect("nu", "nv")).alias("w"))
        )
    else:
        e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        e3 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        triangles = e1.join(e2, "v").join(e3, ["u", "w"])  # each triangle once

    corners = (
        triangles.select(F.col("u").alias("id"))
        .unionAll(triangles.select(F.col("v").alias("id")))
        .unionAll(triangles.select(F.col("w").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("tri"))


def _degrees(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, deg): the duplicate-counting degree, computed and pinned once
    per GRAPH from its adjacency (shared with pagerank's degree pass via
    the per-edge-table memo)."""
    from libgrape_lite_spark.plans.kernels import adjacency_table, cached_degree_table

    return cached_degree_table(
        edges, vertices, adjacency_table(edges), directed=False
    ).select("id", F.col("degree").alias("deg"))


@graph_op
def lcc(
    vertices: DataFrame, edges: DataFrame, degree_threshold: int | None = None
) -> DataFrame:
    """Returns DataFrame(id: long, lcc: double).

    degree = doubled-with-duplicates adjacency length (reference parity);
    triangles use deduplicated neighbor sets. ``degree_threshold`` filters
    super-hubs out of triangle counting (see :func:`triangle_counts`); the
    lcc denominator keeps the ORIGINAL degree, so filtered vertices emit
    0.0 exactly like the reference (tricnt stays 0, lcc.h:217-231).
    """
    # deg feeds BOTH the orientation (twice, via triangle_counts) and the
    # lcc denominator
    deg = _degrees(vertices, edges)
    tri = triangle_counts(vertices, edges, degree_threshold=degree_threshold, _deg=deg)

    return (
        vertices.select("id")
        .join(deg, "id", "left")
        .join(tri, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                2.0
                * F.coalesce("tri", F.lit(0))
                / (F.col("deg") * (F.col("deg") - F.lit(1))),
            )
            .otherwise(0.0)
            .alias("lcc"),
        )
    )
