"""Round-6 regression tests: degenerate-input semantics, lifecycle,
incremental mutation, Iceberg seam.

Reference anchors cited per-test; see VERDICT.md round-5 task list and
ADVICE.md round-5 items.
"""

from __future__ import annotations

import warnings

import pytest


def _zero_norm_fixture(spark):
    rows = [(i, [float(i + 1), float(2 * i + 1), 1.0]) for i in range(20)]
    rows.append((99, [0.0, 0.0, 0.0]))  # zero-norm corpus+query vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, df.where("vec_id in (0, 99)")


def test_knn_zero_norm_vectors_excluded_everywhere(spark):
    """ADVICE r5 (medium): a zero-norm vector must never reach the ranking
    window. Before the fix: knn_bruteforce THREW DIVIDE_BY_ZERO under
    Spark 4's default ANSI mode, and knn_ivf's NumPy kernel emitted NaN
    cosines which sort ABOVE all doubles in the desc window — the zero
    vector became rank-1 neighbor of every query in its cell. Now all
    three impls agree: undefined cosine → excluded from ranking."""
    from libgrape_lite_spark.operators.knn import knn_bruteforce, knn_ivf, knn_lsh

    corpus, queries = _zero_norm_fixture(spark)
    bf = knn_bruteforce(corpus, queries, k=5).collect()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        iv = knn_ivf(corpus, queries, k=5, n_centroids=4, n_probe=4).collect()
    ls = knn_lsh(corpus, queries, k=5).collect()

    for rows in (bf, iv, ls):
        assert rows, "non-degenerate query must still get neighbors"
        assert all(r.neighbor_id != 99 for r in rows)
        assert all(r.query_id != 99 for r in rows)
        assert all(r.cos == r.cos for r in rows)  # no NaN survives
    assert not any(issubclass(w.category, RuntimeWarning) for w in caught)


def test_cosine_null_on_zero_norm_under_ansi(spark):
    """functions.similarity.cosine uses try_divide: NULL (not a throw, not
    NaN) for zero-norm inputs regardless of spark.sql.ansi.enabled."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark.functions.similarity import cosine

    df = spark.createDataFrame(
        [([1.0, 2.0], [0.0, 0.0]), ([1.0, 2.0], [2.0, 4.0])],
        "a array<double>, b array<double>",
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    vals = sorted((r.c is None, r.c) for r in got)
    assert vals[0][0] is False and vals[0][1] == pytest.approx(1.0)
    assert vals[1][0] is True


def test_entry_queries_release_prior_transients(spark):
    """ADVICE r5: a sequential oracle session over __spark_entry__.queries()
    must not accumulate operator-internal localCheckpoint blocks — each
    callable releases the previous query's transients on entry."""
    import __spark_entry__ as entry_mod
    from libgrape_lite_spark import transients

    sf = "/root/testdata/sf0.001"
    qs = entry_mod.queries()
    # flush anything earlier tests left registered (the wrapper would
    # clear it mid-test otherwise, invalidating the mark)
    transients.release_transients()
    pos = transients.mark()
    qs["dedup_minhash"](spark, sf).collect()
    q1_blocks = transients._TRANSIENTS[pos:]
    assert q1_blocks, "dedup_minhash should register transient checkpoints"
    sc = spark.sparkContext
    q1_ids = set()
    for df in q1_blocks:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                q1_ids.add(leaf.rdd().id())
    assert q1_ids & set(sc._jsc.getPersistentRDDs().keys())

    # building the NEXT query frees query 1's pinned blocks
    qs["ngram_jaccard_pairs"](spark, sf).collect()
    live = set(sc._jsc.getPersistentRDDs().keys())
    assert not (q1_ids & live)
    transients.release_transients()


def test_prepared_layouts_released_when_edges_dropped(spark):
    """VERDICT r5 "What's missing" #3 / task 5: dropping the last reference
    to an edges DataFrame without calling invalidate_prepared must release
    its pinned prepared layouts (weakref.finalize capturing RDD ids)."""
    import gc

    from tests.conftest import make_edges, make_vertices
    from libgrape_lite_spark.operators import pagerank, wcc

    from libgrape_lite_spark.plans.kernels import _PREP_CACHE_ATTR

    sc = spark.sparkContext
    gc.collect()

    v = make_vertices(spark, range(1, 8))
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7)])
    wcc(v, e).collect()
    pagerank(v, e, max_rounds=3).collect()
    cache_ids = set(getattr(e, _PREP_CACHE_ATTR).pinned_ids)
    assert cache_ids, "operators should have pinned prepared layouts"
    assert cache_ids & set(sc._jsc.getPersistentRDDs().keys())

    del e
    gc.collect()
    live = set(sc._jsc.getPersistentRDDs().keys())
    assert not (cache_ids & live), f"layouts survived the drop: {cache_ids & live}"


def test_superstep_loop_does_not_leak_intermediate_states(spark):
    """Round-6 leak fix: IterationDriver._gc used DataFrame.unpersist(),
    which does not free localCheckpoint blocks — every superstep loop
    leaked one pinned O(V) block PER ROUND per invocation for the
    executor's lifetime (measured: +6 persistent RDDs per wcc call).
    Now: repeated invocations + release_transients() keep the persistent
    RDD count flat."""
    import gc

    from tests.conftest import make_edges, make_vertices
    from libgrape_lite_spark import transients
    from libgrape_lite_spark.operators import pagerank, wcc

    sc = spark.sparkContext
    v = make_vertices(spark, range(1, 8))
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7)])

    def run_once():
        wcc(v, e).collect()
        pagerank(v, e, max_rounds=3).collect()
        transients.release_transients()
        gc.collect()
        return len(sc._jsc.getPersistentRDDs())

    first = run_once()
    counts = [run_once() for _ in range(2)]
    assert all(c <= first for c in counts), (first, counts)


import os

import pytest as _pytest

ICEBERG_JAR = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")


@_pytest.mark.skipif(
    not ICEBERG_JAR,
    reason="no Iceberg runtime jar in this sandbox (set SPARK_GRAFT_ICEBERG_JAR "
    "to the iceberg-spark-runtime jar path and start the pytest session with "
    "it on spark.jars — VERDICT r5 task 4, parity with the gated Kafka test)",
)
def test_iceberg_round_trip_prepared_edges(spark, tmp_path):
    """Write the normalized edge table through a real Iceberg catalog via
    sources/iceberg.py, read it back, and run an operator on both — the
    config-swap seam the module documents, proven against a real catalog.
    Requires the session to be started with the Iceberg runtime jar; the
    hadoop catalog is configured at runtime (Iceberg reads
    spark.sql.catalog.* lazily at first use)."""
    from tests.conftest import make_edges, make_vertices
    from libgrape_lite_spark.operators import wcc
    from libgrape_lite_spark.sources.iceberg import (
        iceberg_available,
        read_table,
        write_table,
    )

    assert iceberg_available(spark), "jar env var set but class not on classpath"
    spark.conf.set("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.lake.type", "hadoop")
    spark.conf.set("spark.sql.catalog.lake.warehouse", str(tmp_path / "warehouse"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")

    v = make_vertices(spark, range(1, 8))
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7)])
    write_table(e, "lake.db.edges")
    e2 = read_table(spark, "lake.db.edges")
    assert sorted(map(tuple, e2.collect())) == sorted(map(tuple, e.collect()))
    want = sorted(map(tuple, wcc(v, e).collect()))
    got = sorted(map(tuple, wcc(v, e2).collect()))
    assert got == want


# ---------------------------------------------- incremental mutation (task 7)
def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merge_edges_matches_full_rebuild(spark):
    """Reference parity: MutableEdgecutFragment::Mutate
    (mutable_edgecut_fragment.h:191) applies add/remove/update deltas to a
    loaded graph. merge_edges must produce a row-identical edge table to
    rebuilding from the mutated edge list, and operators on it must match
    the full-rebuild results exactly."""
    from tests.conftest import make_edges, make_vertices
    from libgrape_lite_spark.mutation import merge_edges
    from libgrape_lite_spark.operators import pagerank, sssp, wcc

    base_pairs = [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 1.0), (4, 5, 1.0),
                  (2, 6, 5.0), (6, 7, 1.0), (7, 8, 1.0)]
    base = make_edges(spark, base_pairs)
    delta = spark.createDataFrame(
        [
            ("add", 5, 9, 1.0),   # new vertex 9 via new edge
            ("add", 1, 3, 0.5),
            ("del", 6, 7, 0.0),   # disconnects 7-8 from the 1..6 component
            ("upd", 2, 3, 9.0),   # weight change
            ("delv", 8, 0, 0.0),  # vertex removal drops incident edges
        ],
        "op string, src long, dst long, weight double",
    )
    merged = merge_edges(base, delta)
    want_pairs = [(1, 2, 1.0), (2, 3, 9.0), (3, 4, 1.0), (4, 5, 1.0),
                  (2, 6, 5.0), (5, 9, 1.0), (1, 3, 0.5)]
    rebuilt = make_edges(spark, want_pairs)
    assert _rows(merged) == _rows(rebuilt)

    ids = sorted({s for s, d, _ in want_pairs} | {d for s, d, _ in want_pairs} | {7})
    v = make_vertices(spark, ids)
    assert _rows(wcc(v, merged)) == _rows(wcc(v, rebuilt))
    assert _rows(sssp(v, merged, source=1)) == _rows(sssp(v, rebuilt, source=1))
    pr_m = {r["id"]: r["rank"] for r in pagerank(v, merged, max_rounds=5).collect()}
    pr_r = {r["id"]: r["rank"] for r in pagerank(v, rebuilt, max_rounds=5).collect()}
    assert pr_m == pr_r


def test_merge_edges_weight_only_delta_carries_topology_layouts(spark):
    """A weight-only delta must carry every weight-free prepared layout
    from the base (zero rebuild cost) while the weighted ones (adjacency,
    PIE) patch or rebuild; operators over the merged table stay exact."""
    from tests.conftest import make_edges, make_vertices
    from libgrape_lite_spark.mutation import merge_edges
    from libgrape_lite_spark.operators import sssp, wcc
    from libgrape_lite_spark.plans.kernels import (
        _PREP_CACHE_ATTR,
        prepare_graph,
    )

    base_pairs = [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 1.0), (2, 5, 4.0)]
    base = make_edges(spark, base_pairs)
    v = make_vertices(spark, range(1, 6))
    prepare_graph(v, base, num_fragments=4)

    delta = spark.createDataFrame(
        [("upd", 2, 3, 0.5)], "op string, src long, dst long, weight double"
    )
    merged = merge_edges(base, delta)
    mcache = getattr(merged, _PREP_CACHE_ATTR)
    carried = set(merged._lgls_carried_layouts)
    assert carried, "weight-only delta should carry layouts"
    assert carried == set(mcache.borrowed)
    assert carried == {("outdeg", False)}
    assert set(merged._lgls_pending_patches) == {("adj", False)}

    rebuilt = make_edges(spark, [(1, 2, 1.0), (2, 3, 0.5), (3, 4, 1.0), (2, 5, 4.0)])
    assert _rows(merged) == _rows(rebuilt)
    assert _rows(wcc(v, merged)) == _rows(wcc(v, rebuilt))
    assert _rows(sssp(v, merged, source=1)) == _rows(sssp(v, rebuilt, source=1))

    # invalidating the MERGED cache must not kill the base's layouts
    from libgrape_lite_spark.plans.kernels import invalidate_prepared

    base_ids = set(getattr(base, _PREP_CACHE_ATTR).pinned_ids)
    invalidate_prepared(merged)
    live = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert base_ids & live, "borrowed release must not unpersist base layouts"
    invalidate_prepared(base)


def test_merge_edges_topology_delta_does_not_carry_degree_stats(spark):
    """Topology deltas invalidate degree stats (they feed PageRank's
    dangling-mass scalar) and carry no layouts; fragment bounds DO carry
    (a layout choice — any strictly-increasing boundaries are correct)."""
    from tests.conftest import make_edges, make_vertices
    from libgrape_lite_spark.mutation import merge_edges
    from libgrape_lite_spark.plans.kernels import (
        _BOUNDS_CACHE_ATTR,
        _DEGREE_STATS_ATTR,
        cached_edge_balanced_bounds,
        prepare_graph,
    )

    from libgrape_lite_spark.plans.kernels import cached_degree_stats

    base = make_edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)])
    v = make_vertices(spark, range(1, 5))
    prep = prepare_graph(v, base, num_fragments=4)
    cached_edge_balanced_bounds(base, 4, key="src")
    # prepare_graph builds the degree TABLE; the stats memo is set by the
    # aggregate in cached_degree_stats (pagerank's path) — run it so the
    # precondition "stats existed on base" is real, then assert it.
    cached_degree_stats(base, v, prep["gather_src"], directed=False)
    assert getattr(base, _DEGREE_STATS_ATTR, None) is not None

    delta = spark.createDataFrame(
        [("add", 4, 5, 1.0)], "op string, src long, dst long, weight double"
    )
    merged = merge_edges(base, delta)
    assert merged._lgls_carried_layouts == ()
    assert getattr(merged, _DEGREE_STATS_ATTR, None) is None
    assert getattr(merged, _BOUNDS_CACHE_ATTR, None) == getattr(
        base, _BOUNDS_CACHE_ATTR
    )
