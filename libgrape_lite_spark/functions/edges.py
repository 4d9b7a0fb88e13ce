"""Edge-table derivation from transcripts + core graph helpers.

Three derivation rules (FIXTURES.md §2, the transcript analog of the
reference's TSV edge source):

1. **reply**: ``(conv_id, turn_idx-1) → (conv_id, turn_idx)`` via a window
   ``lag`` over (conv_id, turn_idx); weight 1.0.
2. **tool-invocation**: turn with ``tool IS NOT NULL`` → hub vertex
   ``tool::<name>``; weight 1.0.
3. **role-transition**: consecutive turns whose role changes add
   ``role::<conv>::<prev> → role::<conv>::<next>``, weight = count.

Plus the structural helpers every algorithm shares:

* ``undirected`` — doubled edge table, matching the reference's undirected
  CSR insertion of both directions (csr_edgecut_fragment_base.h:469-476).
* ``out_degrees`` — ``GetLocalOutDegree`` analog
  (csr_edgecut_fragment_base.h:58-66): counts parallel edges, post-doubling
  for undirected graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from libgrape_lite_spark.functions.ids import encode_edges, encode_vertices


def _turn_oid(conv_col: str = "conv_id", idx_col: str = "turn_idx"):
    return F.concat(F.col(conv_col), F.lit(":"), F.col(idx_col).cast("string"))


def _with_prev(transcripts: DataFrame) -> DataFrame:
    """The windowed intermediate every derivation rule reads: the base
    transcript columns plus the ``prev_idx``/``prev_role`` lag columns.
    Rule 2 (tool) and the turns-as-vertices projection only need the base
    columns, which ride along so ONE materialization serves all
    consumers.

    When the source already carries the lag columns (events_to_transcripts
    computes them inside its own window pass — same partitioning, same
    order, identical values), this is a narrow projection; otherwise one
    (conv_id, turn_idx)-windowed pass adds them."""
    cols = ["conv_id", "turn_idx", "role", "tool"]
    if {"prev_idx", "prev_role"} <= set(transcripts.columns):
        return transcripts.select(*cols, "prev_idx", "prev_role")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.select(
        *cols,
        F.lag("turn_idx").over(w).alias("prev_idx"),
        F.lag("role").over(w).alias("prev_role"),
    )


def _edges_from_prev(with_prev: DataFrame) -> DataFrame:
    reply = (
        with_prev.where(F.col("prev_idx").isNotNull())
        .select(
            F.concat(F.col("conv_id"), F.lit(":"), F.col("prev_idx").cast("string")).alias(
                "src_oid"
            ),
            _turn_oid().alias("dst_oid"),
            F.lit(1.0).alias("weight"),
            F.lit("reply").alias("etype"),
        )
    )

    tool = (
        with_prev.where(F.col("tool").isNotNull())
        .select(
            _turn_oid().alias("src_oid"),
            F.concat(F.lit("tool::"), F.col("tool")).alias("dst_oid"),
            F.lit(1.0).alias("weight"),
            F.lit("tool").alias("etype"),
        )
    )

    role_transition = (
        with_prev.where(
            F.col("prev_role").isNotNull() & (F.col("prev_role") != F.col("role"))
        )
        .select(
            F.concat(F.lit("role::"), F.col("conv_id"), F.lit("::"), F.col("prev_role")).alias(
                "src_oid"
            ),
            F.concat(F.lit("role::"), F.col("conv_id"), F.lit("::"), F.col("role")).alias(
                "dst_oid"
            ),
        )
        .groupBy("src_oid", "dst_oid")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        .select("src_oid", "dst_oid", "weight", F.lit("role").alias("etype"))
    )

    return reply.unionByName(tool).unionByName(role_transition)


def derive_edges(transcripts: DataFrame) -> DataFrame:
    """transcripts → edges(src_oid, dst_oid, weight, etype).

    The three rules consume ONE materialized windowed pass
    (:func:`_with_prev`, registered as a transient): without the
    materialization the union's three branches re-ran the upstream
    row_number + lag windows per branch — plan-audited round 8: 3× the
    events scan, 3× the row_number window, 2× the lag sort+window per
    build (guide §2.4: remove repeated passes; exchange reuse does not
    cover the per-branch Sort+Window above the reused shuffle).
    """
    from libgrape_lite_spark import transients

    wp = transients.register(_with_prev(transcripts).localCheckpoint(eager=True))
    return _edges_from_prev(wp)


def build_graph_from_transcripts(
    transcripts: DataFrame, broadcast_dict: bool = True
) -> tuple[DataFrame, DataFrame]:
    """transcripts → (vertices(id, oid), edges(src, dst, weight, etype)).

    Vertices = all distinct edge endpoints, dictionary-encoded
    order-preservingly (see functions/ids.py). Isolated turns (conversations
    of length 1 with no tool) still appear via their own oid if they emit
    any edge; a fully isolated vertex set can be unioned in by callers that
    need LDBC .v-file semantics.
    """
    from libgrape_lite_spark import transients

    # ONE windowed pass over the transcripts serves the edge derivation
    # AND the turns-as-vertices projection (r8, guide §2.4 — previously
    # the turns branch re-ran the row_number window over the events scan)
    wp = transients.register(_with_prev(transcripts).localCheckpoint(eager=True))
    # materialize the derived edges once — they feed both the vertex
    # dictionary (endpoints union) and the id-translation join; without
    # this the 3-branch derivation recomputes per consumer. Registered as
    # a transient (callers checkpoint the returned tables before any
    # release point — bench, _graph, scripts all do)
    e_oid = transients.register(_edges_from_prev(wp).localCheckpoint(eager=True))
    endpoints = e_oid.select(F.col("src_oid").alias("oid")).unionByName(
        e_oid.select(F.col("dst_oid").alias("oid"))
    )
    # every turn is a vertex even if isolated (matches .v-file semantics)
    turns = wp.select(_turn_oid().alias("oid"))
    # materialize the dictionary once (transient): encode_edges reads it
    # for BOTH join sides (each broadcast build executes the plan), and
    # callers checkpoint the returned vertices again — without this the
    # id-assignment pipeline re-ran up to 4x per build (r8, guide §2.4)
    vertices = transients.register(
        encode_vertices(endpoints.unionByName(turns)).localCheckpoint(eager=True)
    )
    edges = encode_edges(e_oid, vertices, broadcast_dict=broadcast_dict)
    return vertices, edges


def undirected(edges: DataFrame) -> DataFrame:
    """Doubled edge table: each input edge inserted in both directions
    (csr_edgecut_fragment_base.h:469-476 ``insert_iter_out_in_undirected``).
    Parallel edges and the resulting duplicates are intentionally kept —
    the reference's degree counts them."""
    cols = edges.columns
    flipped = edges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        *[c for c in cols if c not in ("src", "dst")],
    ).select(*cols)
    return edges.select(*cols).unionByName(flipped)


def out_degrees(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """DataFrame(id, degree) — out-degree per vertex, counting parallel
    edges: one per row, or ``cnt`` per row on a pair-aggregated adjacency
    (plans/kernels.py adjacency_table). If ``vertices`` given, zero-degree
    vertices are included (dangling vertices matter for PageRank,
    pagerank.h:74-88)."""
    n = F.sum("cnt") if "cnt" in edges.columns else F.count(F.lit(1))
    deg = edges.groupBy(F.col("src").alias("id")).agg(n.alias("degree"))
    if vertices is not None:
        deg = (
            vertices.select("id")
            .join(deg, "id", "left")
            .select("id", F.coalesce("degree", F.lit(0)).alias("degree"))
        )
    return deg
