"""Vertex-id densification: string oid → dense long id.

The reference does this with a per-worker hashmap + ring exchange
(``grape/graph/id_indexer.h:135``, ``grape/vertex_map/global_vertex_map.h:
69-103``). Spark-native equivalent: a dictionary DataFrame.

The assignment is **order-preserving** (id order == oid lexicographic
order) so min-id semantics (WCC component = min vertex, CDLP tie → smallest
label) are stable across the string/dense representations.

Scale note: a naive ``row_number().over(Window.orderBy('oid'))`` collapses
to ONE partition — a driver-killer at 10^12 rows. Instead we do a
distributed order-preserving zip-with-index:

1. ``repartitionByRange('oid')`` + ``sortWithinPartitions`` (range shuffle,
   fully parallel — same machinery as a distributed sort),
2. collect only the tiny per-partition row counts,
3. broadcast-join the cumulative offsets and assign
   ``id = offset[partition] + position-in-partition`` — the position is
   decoded from ``monotonically_increasing_id()`` (consecutive per
   partition), so the assignment pass is a narrow projection over the
   already-sorted cached partitions: no exchange, no re-sort.

This mirrors the reference's fid-partitioned id space (id_parser.h packs
fid‖lid; we keep plain longs, SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

VERTEX_SCHEMA = StructType(
    [StructField("id", LongType(), False), StructField("oid", StringType(), False)]
)

# monotonically_increasing_id keeps the row count within a partition in
# its low 33 bits; a partition holding this many rows would carry into the
# partition-id bits and silently hand out duplicate ids.
MAX_PARTITION_ROWS = 1 << 33


def encode_vertices(oids: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """DataFrame with column ``oid`` → dictionary DataFrame(id, oid),
    ids dense 0..N-1 in oid order. Distributed (no single-partition window).

    The per-partition position is decoded from
    ``monotonically_increasing_id()`` — partition id in the upper bits,
    consecutive 0-based row count in the lower 33 (the documented layout,
    stable Spark 1.6→4.x) — evaluated directly over the cached sorted
    partitions, plus a broadcast join against the tiny per-partition
    offset table. Two r8 steps (guide §4.1 then §2.4, measured in
    OPTIMIZATION_r08.md): first the r1-r7 ``mapInPandas`` assignment
    became a JVM window over the range-partition id (identical ids, no
    first-job Python-pool spin-up, no O(V) JVM→Python→JVM round trip);
    then the window's own ``Exchange hashpartitioning(pid) + Sort(pid,
    oid)`` over all V rows — paid only to re-establish an order the
    cached partitions already have — was elided by reading the position
    out of the row id (plan: assignment pass = scan + project +
    broadcast join, 0 exchanges, 0 sorts).

    Raises ``ValueError`` when a partition holds :data:`MAX_PARTITION_ROWS`
    or more oids — past that the row-id layout cannot encode the position.
    """
    spark = oids.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    sorted_oids = (
        oids.select("oid").distinct().repartitionByRange(n, "oid").sortWithinPartitions("oid")
    )
    # cached: the counts pass and the assignment pass must see identical
    # partitions; registered as a transient so oracle/bench sessions
    # release the O(V) cache once the dictionary is consumed (pre-r8 it
    # stayed pinned for the session)
    from libgrape_lite_spark import transients

    sorted_oids = transients.register(sorted_oids.cache())
    # tiny collect: one row per partition
    counts = (
        sorted_oids.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    count_by_pid = {r["pid"]: r["count"] for r in counts}
    for pid, cnt in sorted(count_by_pid.items()):
        if cnt >= MAX_PARTITION_ROWS:
            raise ValueError(
                f"encode_vertices: partition {pid} holds {cnt} distinct oids, "
                f"at or past the {MAX_PARTITION_ROWS}-row limit of the row-id "
                f"layout; pass a larger num_partitions (now {n})"
            )
    offsets: list[tuple[int, int]] = []
    acc = 0
    for pid in range(max(count_by_pid, default=-1) + 1):
        offsets.append((pid, acc))
        acc += count_by_pid.get(pid, 0)
    off_df = spark.createDataFrame(offsets or [(0, 0)], "pid int, off long")

    # monotonically_increasing_id = (partition_id << 33) | row-count-in-
    # partition; the cache scan yields each partition in its sorted order,
    # so the low bits ARE the position of the oid within its sorted
    # partition — the exact value the previous row_number window computed,
    # without that window's Exchange(pid) + Sort(pid, oid) over all V rows
    mid = F.monotonically_increasing_id()
    out = (
        sorted_oids.select("oid", mid.alias("_mid"))
        .withColumn("pid", F.shiftright("_mid", 33).cast("int"))
        .join(F.broadcast(off_df), "pid")
        .select(
            (F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)) + F.col("off")).alias("id"),
            "oid",
        )
    )
    return out


def encode_edges(
    edges_oid: DataFrame, vertices: DataFrame, broadcast_dict: bool = True
) -> DataFrame:
    """edges(src_oid, dst_oid, weight, ...) × dict(id, oid) → edges(src, dst, ...).

    Two hash joins on the dictionary — the Spark analog of the reference's
    oid→gid translation pass (basic_fragment_loader.h:199-267).

    ``broadcast_dict=True`` mirrors ``GlobalVertexMap`` (every worker holds
    the full map, global_vertex_map.h:69-103) — right when the dictionary
    fits in executor memory. At 10^12-vertex scale pass ``False`` for
    shuffle joins, the ``LocalVertexMap`` analog (local_vertex_map.h:126).

    The shuffle-dict joins are SHUFFLE_HASH-hinted (guide §3.1): the
    planner's default sort-merge join pays a full string sort of both
    sides per key — the dominant cost of the at-scale build (measured r8,
    C=1M interleaved A/B: 3.2 s vs 7.7 s per build, 5/5 pairs,
    OPTIMIZATION_r08.md). The build side is one dictionary partition —
    V/shuffle_partitions rows, exactly the per-fragment id map the
    reference's LocalVertexMap holds in memory — so the hash build is the
    same memory class the design already commits to.
    """
    if broadcast_dict:
        maybe_b = F.broadcast
    else:
        maybe_b = lambda df: df.hint("shuffle_hash")  # noqa: E731
    src_dict = maybe_b(vertices.select(F.col("oid").alias("src_oid"), F.col("id").alias("src")))
    dst_dict = maybe_b(vertices.select(F.col("oid").alias("dst_oid"), F.col("id").alias("dst")))
    extra = [c for c in edges_oid.columns if c not in ("src_oid", "dst_oid")]
    return (
        edges_oid.join(src_dict, "src_oid")
        .join(dst_dict, "dst_oid")
        .select("src", "dst", *extra)
    )
