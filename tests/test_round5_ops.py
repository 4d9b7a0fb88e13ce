"""Round-5 behaviors: bounded prepared-table cache (LRU + eviction
unpersist), prepared_session lifecycle, degree-table supersede release,
CDLP auto hub-salting."""

from __future__ import annotations

from tests.conftest import make_edges, make_vertices


def as_dict(df, key="id"):
    rows = df.collect()
    (vcol,) = [c for c in df.columns if c != key]
    return {r[key]: r[vcol] for r in rows}


def _is_cached(df) -> bool:
    """True iff the frame's pinned LogicalRDD blocks are still registered
    (df.storageLevel stays non-NONE after an RDD-level unpersist, so the
    persistent-RDD registry is the ground truth)."""
    sc = df.sparkSession.sparkContext
    live = set(sc._jsc.getPersistentRDDs().keys())
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            if leaf.rdd().id() in live:
                return True
    return False


# --------------------------------------------- prepared-table cache bound
def test_prepared_cache_bounded_after_full_session(spark):
    """VERDICT r4 #4: a long analytics session over one graph must not
    accumulate unbounded pinned O(E) layouts. Run every algorithm app
    (both impls where applicable) on one edge table and assert the cache
    holds at most PREP_CACHE_CAP entries, all still pinned."""
    from libgrape_lite_spark.operators import bfs, cdlp, lcc, pagerank, sssp, wcc
    from libgrape_lite_spark.operators.pagerank import pagerank_local
    from libgrape_lite_spark.plans.kernels import _PREP_CACHE_ATTR, PREP_CACHE_CAP

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7)]
    v = make_vertices(spark, range(1, 8))
    e = make_edges(spark, pairs)

    wcc(v, e).collect()
    cdlp(v, e, max_rounds=3).collect()
    bfs(v, e, source=1).collect()
    sssp(v, e, source=1).collect()
    sssp(v, e, source=1, impl="auto").collect()
    pagerank(v, e, max_rounds=3).collect()
    pagerank_local(v, e, max_rounds=3).collect()
    lcc(v, e).collect()

    cache = getattr(e, _PREP_CACHE_ATTR)
    assert len(cache) <= PREP_CACHE_CAP
    # one adjacency serves every app: the rest are its views
    assert {k[0] for k in cache} == {"adj", "pie", "outdeg"}


def test_prepared_cache_lru_evicts_and_unpersists(spark):
    """The (CAP+1)-th distinct layout evicts the least-recently-used one
    and releases its pinned blocks; a re-request transparently rebuilds."""
    from libgrape_lite_spark.plans.kernels import (
        _PREP_CACHE_ATTR,
        PREP_CACHE_CAP,
        cached_prepared,
        invalidate_prepared,
    )

    e = make_edges(spark, [(1, 2), (2, 3)])
    built = {}

    def builder(i):
        def b():
            df = e.select("src", "dst").localCheckpoint(eager=True)
            built[i] = df
            return df

        return b

    for i in range(PREP_CACHE_CAP + 2):
        cached_prepared(e, ("synthetic", i), builder(i))

    cache = getattr(e, _PREP_CACHE_ATTR)
    assert len(cache) == PREP_CACHE_CAP
    # the two oldest layouts were evicted and unpersisted
    assert ("synthetic", 0) not in cache and ("synthetic", 1) not in cache
    assert not _is_cached(built[0]) and not _is_cached(built[1])
    assert _is_cached(built[PREP_CACHE_CAP + 1])
    # LRU refresh: touching an old key protects it from the next eviction
    cached_prepared(e, ("synthetic", 2), builder(2))  # hit → move to end
    cached_prepared(e, ("synthetic", 99), builder(99))
    assert ("synthetic", 2) in getattr(e, _PREP_CACHE_ATTR)
    assert ("synthetic", 3) not in getattr(e, _PREP_CACHE_ATTR)
    # re-requesting an evicted key rebuilds transparently
    df0 = cached_prepared(e, ("synthetic", 0), builder(0))
    assert _is_cached(df0)
    invalidate_prepared(e)


def test_prepared_session_releases_on_exit(spark):
    """The context-manager session helper (reference worker lifecycle:
    PrepareToRunApp .. Finalize) unpersists every pinned layout on exit;
    results computed inside are unaffected."""
    from libgrape_lite_spark import prepared_session
    from libgrape_lite_spark.operators import pagerank, wcc
    from libgrape_lite_spark.plans.kernels import _PREP_CACHE_ATTR

    v = make_vertices(spark, range(1, 6))
    e = make_edges(spark, [(1, 2), (2, 3), (4, 5)])

    with prepared_session(e):
        r_wcc = as_dict(wcc(v, e))
        r_pr = as_dict(pagerank(v, e, max_rounds=2))
        cache = getattr(e, _PREP_CACHE_ATTR)
        assert cache  # layouts pinned inside the session
        pinned = [x[1] if isinstance(x, tuple) else x for x in cache.values()]
        assert all(_is_cached(df) for df in pinned)

    assert not getattr(e, _PREP_CACHE_ATTR)  # cache cleared
    assert all(not _is_cached(df) for df in pinned)  # blocks released
    assert r_wcc == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert len(r_pr) == 5


def test_degree_table_supersede_unpersists_old(spark):
    """ADVICE r4: a different vertices frame over the same edges rebuilds
    the degree table — the superseded entry's pinned blocks must be
    released, not leaked."""
    from libgrape_lite_spark.functions.edges import undirected
    from libgrape_lite_spark.plans.kernels import cached_degree_table

    e = make_edges(spark, [(1, 2), (2, 3)])
    adj = undirected(e.select("src", "dst"))
    v1 = make_vertices(spark, range(1, 4))
    v2 = make_vertices(spark, range(1, 5))

    d1 = cached_degree_table(e, v1, adj, directed=False)
    assert _is_cached(d1)
    d2 = cached_degree_table(e, v2, adj, directed=False)
    assert _is_cached(d2)
    assert not _is_cached(d1)  # superseded entry released
    assert as_dict(d2) == {1: 1, 2: 2, 3: 1, 4: 0}


# --------------------------------------------- CDLP auto hub-salting
def _power_law_graph(spark, n_leaves=200, extra=()):
    """A hub (vertex 0) whose degree out-weighs whole fragments, plus a
    few community edges so labels actually propagate and parallel edges
    exercise the vote multiplicity."""
    pairs = [(0, i) for i in range(1, n_leaves + 1)]
    pairs += [(1, 2), (1, 2), (2, 3), (5, 6)]  # incl. a parallel edge
    pairs += list(extra)
    v = make_vertices(spark, range(n_leaves + 1))
    return v, make_edges(spark, pairs)


def test_cdlp_auto_hub_salting_dataframe(spark):
    """VERDICT r4 #7 (dataframe path): with thresholds scaled to the
    fixture, CDLP's auto detection must engage (driver.info) and the
    two-level salted vote count must produce labels identical to the
    unsalted run — count is associative, salting is plan-only."""
    from libgrape_lite_spark.operators import cdlp
    from libgrape_lite_spark.plans.superstep import IterationDriver

    v, e = _power_law_graph(spark)
    drv = IterationDriver(spark)
    salted = as_dict(
        cdlp(v, e, max_rounds=4, driver=drv, hub_degree_factor=1.0, min_hub_degree=0)
    )
    assert drv.info["cdlp_hub_salts"] > 0  # auto-engaged
    plain = as_dict(cdlp(v, e, max_rounds=4, hub_salts=0))
    assert salted == plain


def test_cdlp_hub_salting_stays_off_without_skew(spark):
    """Default thresholds: a skew-free chain must NOT engage (the extra
    pass would only cost); explicit int hub_salts is honored as-is."""
    from libgrape_lite_spark.operators import cdlp
    from libgrape_lite_spark.plans.superstep import IterationDriver

    v = make_vertices(spark, range(10))
    e = make_edges(spark, [(i, i + 1) for i in range(9)])
    drv = IterationDriver(spark)
    r_auto = as_dict(cdlp(v, e, max_rounds=3, driver=drv))
    assert drv.info["cdlp_hub_salts"] == 0
    # an explicit salted run agrees even when detection is off
    assert as_dict(cdlp(v, e, max_rounds=3, hub_salts=4)) == r_auto


def test_degree_stats_memoized_per_graph(spark):
    """cached_degree_stats: one aggregate per (graph, vertices, direction)
    — PageRank and CDLP detection share it; values are exact."""
    from libgrape_lite_spark.functions.edges import undirected
    from libgrape_lite_spark.plans.kernels import cached_degree_stats

    v = make_vertices(spark, range(5))
    e = make_edges(spark, [(0, 1), (0, 2), (0, 3), (1, 2)])
    doubled = undirected(e.select("src", "dst"))
    nd, md, sd = cached_degree_stats(e, v, doubled, False)
    # doubled degrees: 0→3, 1→2, 2→2, 3→1, 4→0 (dangling)
    assert (nd, md, sd) == (1, 3, 8)
    # second call returns the memoized tuple (same object identity)
    assert cached_degree_stats(e, v, doubled, False) is not None
    memo = getattr(e, "_lgls_degree_stats")
    assert memo[False][1] == (1, 3, 8)


# --------------------------------------------- banded SimHash (64-bit)
def test_simhash_bits_16_matches_simhash16(spark):
    """simhash_bits is the one-pass generalization of simhash16: same
    tokenization, hash family, and tie rule - bit-identical at bits=16
    (the DuckDB oracle keeps mirroring simhash16)."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark.functions.similarity import simhash16, simhash_bits

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (4, "Sphinx of black quartz judge my vow"),
            (5, "a"),
        ],
        "doc_id long, text string",
    )
    rows = docs.select(
        simhash16(F.col("text")).alias("s16"),
        simhash_bits(F.col("text"), 16).alias("sb"),
    ).collect()
    for r in rows:
        assert r["s16"] == r["sb"]


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dedup_simhash_banded_complete_vs_bruteforce(spark):
    """Pigeonhole completeness: with bands = max_hamming + 1 (the fixed
    default - the old two-half variant guaranteed only Hamming <= 1), the
    banded join must return EXACTLY the pairs a brute-force all-pairs
    Hamming scan finds, at 64-bit default and at 16-bit/3-band."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark.functions.similarity import simhash_bits
    from libgrape_lite_spark.operators.dedup import dedup_simhash

    # deterministic corpus where near-dups differ by ONE REMOVED token
    # from a 400-token base: each removal shifts every bit counter by -+1,
    # so only counters sitting at the sign boundary flip — expected
    # Hamming ~1-3 of 64, exactly the regime the banded join serves
    # (a one-token SUBSTITUTION in a short doc flips far more bits)
    vocab = [f"tok{i}" for i in range(100)]
    rows = []
    for i in range(12):
        rows.append((i, " ".join(w for j, w in enumerate(vocab) if j != i)))
    for i in range(12, 24):  # distant docs — must NOT pair up
        rows.append((i, " ".join(f"z{i}x{j}" for j in range(50))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for bits, m in [(64, 3), (16, 2)]:
        sigs = {
            r["doc_id"]: r["sh"]
            for r in docs.select(
                "doc_id", simhash_bits(F.col("text"), bits).alias("sh")
            ).collect()
        }
        want = {
            (a, b): _hamming(sigs[a], sigs[b])
            for a in sigs
            for b in sigs
            if a < b and _hamming(sigs[a], sigs[b]) <= m
        }
        got = {
            (r["a"], r["b"]): r["hamming"]
            for r in dedup_simhash(docs, max_hamming=m, bits=bits).collect()
        }
        assert got == want, f"bits={bits} max_hamming={m}"
        assert any(0 < h for h in want.values())  # fixture has near-dups


# --------------------------------------------- prepare_graph warm-up
def test_prepare_graph_warms_every_operator_layout(spark):
    """The bench protocol's guarantee: after prepare_graph,
    running every operator on the same graph hits the warmed layouts -
    the cache holds the SAME DataFrame objects afterwards (no rebuild,
    no eviction) and results are correct."""
    from libgrape_lite_spark.operators import bfs, cdlp, lcc, pagerank, sssp, wcc
    from libgrape_lite_spark.plans.kernels import _PREP_CACHE_ATTR, prepare_graph

    v = make_vertices(spark, range(1, 8))
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7)])

    layouts = prepare_graph(v, e)
    assert set(layouts) == {
        "pie", "push", "push_weighted", "gather_src", "gather_dst", "degree",
    }
    cache = getattr(e, _PREP_CACHE_ATTR)
    # pinned: the adjacency, the PIE table and the degree table only
    assert {k[0] for k in cache} == {"adj", "pie", "outdeg"} and len(cache) == 3
    ed = make_edges(spark, [(1, 2), (2, 3)])
    prepare_graph(v, ed, directed=True)
    # a directed graph adds its by-dst copy
    assert {k[0] for k in getattr(ed, _PREP_CACHE_ATTR)} == {
        "adj", "pie", "outdeg", "by_dst",
    }
    before = {k: id(val[1] if isinstance(val, tuple) else val) for k, val in cache.items()}

    r_wcc = as_dict(wcc(v, e))
    pagerank(v, e, max_rounds=2).collect()
    cdlp(v, e, max_rounds=2).collect()
    bfs(v, e, source=1).collect()
    sssp(v, e, source=1).collect()
    sssp(v, e, source=1, impl="auto").collect()
    lcc(v, e).collect()

    after = {k: id(val[1] if isinstance(val, tuple) else val) for k, val in cache.items()}
    assert before == after  # every layout reused, none rebuilt or evicted
    assert r_wcc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1}


def test_hash_fn_xxhash64_scale_path(spark):
    """hash_fn='xxhash64' (the native scale path) must preserve operator
    semantics: identical docs are found by dedup_minhash, the banded
    simhash join stays complete vs a brute-force scan of the xxhash64
    signatures, and unknown hash_fn raises."""
    import pytest
    from pyspark.sql import functions as F

    from libgrape_lite_spark.functions.similarity import simhash_bits
    from libgrape_lite_spark.operators.dedup import dedup_minhash, dedup_simhash

    vocab = [f"tok{i}" for i in range(100)]
    rows = [(i, " ".join(w for j, w in enumerate(vocab) if j != i)) for i in range(10)]
    rows.append((10, rows[0][1]))  # exact duplicate of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    mh = {(r["a"], r["b"]) for r in
          dedup_minhash(docs, threshold=0.9, shingle_n=2, hash_fn="xxhash64").collect()}
    assert (0, 10) in mh  # identical docs always collide and verify at 1.0

    sigs = {r["doc_id"]: r["sh"] for r in docs.select(
        "doc_id", simhash_bits(F.col("text"), 64, hash_fn="xxhash64").alias("sh")
    ).collect()}
    want = {(a, b): _hamming(sigs[a], sigs[b]) for a in sigs for b in sigs
            if a < b and _hamming(sigs[a], sigs[b]) <= 3}
    got = {(r["a"], r["b"]): r["hamming"] for r in
           dedup_simhash(docs, max_hamming=3, bits=64, hash_fn="xxhash64").collect()}
    assert got == want and (0, 10) in got and got[(0, 10)] == 0

    with pytest.raises(ValueError):
        dedup_simhash(docs, hash_fn="fnv").collect()


def test_minhash_plan_narrow_matches_explode(spark):
    """The zero-shuffle narrow signature plan must be bit-identical to the
    explode+groupBy plan for BOTH hash families, drop shingle-less docs
    the same way, and reject unknown plans. (The narrow plan is the
    default: same hash evaluations, none of the 52x-corpus exploded-row
    exchange — see functions/similarity.py::minhash_signatures.)"""
    import pytest

    from libgrape_lite_spark.functions.similarity import minhash_signatures

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "an entirely different document with its own words inside it"),
        (3, "short doc"),        # 2 tokens < shingle_n=3 -> no shingles
        (4, ""),                 # empty -> no shingles
        (5, None),               # null -> no shingles
        (6, "one two three four five six seven eight nine ten eleven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for hash_fn in ("h64", "xxhash64"):
        narrow = {
            r["id"]: list(r["sig"])
            for r in minhash_signatures(docs, hash_fn=hash_fn, plan="narrow").collect()
        }
        explode = {
            r["id"]: list(r["sig"])
            for r in minhash_signatures(docs, hash_fn=hash_fn, plan="explode").collect()
        }
        assert narrow == explode, hash_fn
        assert set(narrow) == {0, 1, 2, 6}  # 3, 4, 5 dropped by both plans
        assert narrow[0] == narrow[1]       # identical docs, identical sigs

    # the narrow plan is shuffle-free: no Exchange in the executed plan
    sig = minhash_signatures(docs, plan="narrow")
    sig.collect()
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    with pytest.raises(ValueError):
        minhash_signatures(docs, plan="sideways")


def test_dedup_minhash_verify_semijoin_parity(spark):
    """The round-5 verify-stage reduction (checkpoint candidates, semi-join
    the corpus to candidate ids before shingling) must not change accepted
    pairs or jaccard values vs a straight recompute of the definition."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark.functions.text import shingles
    from libgrape_lite_spark.operators.dedup import (
        dedup_minhash,
        minhash_lsh_candidates,
    )

    vocab = [f"w{i}" for i in range(60)]
    rows = [(i, " ".join(w for j, w in enumerate(vocab) if j % 7 != i % 7)) for i in range(12)]
    rows.append((12, rows[0][1] + " extra"))  # near-dup of doc 0
    rows.append((13, rows[0][1]))             # exact dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["a"], r["b"]): round(r["jaccard"], 12)
        for r in dedup_minhash(docs, threshold=0.4).collect()
    }

    # independent verify: same candidates, jaccard from full shingle sets
    cands = {(r["a"], r["b"]) for r in minhash_lsh_candidates(docs).collect()}
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select("doc_id", shingles(F.col("text")).alias("sh")).collect()
    }
    want = {}
    for a, b in cands:
        inter = len(sh[a] & sh[b])
        j = inter / (len(sh[a]) + len(sh[b]) - inter)
        if j >= 0.4:
            want[(a, b)] = round(j, 12)
    assert got == want
    assert (0, 13) in got and got[(0, 13)] == 1.0


def test_shingles_zip_form_matches_per_position_form(spark):
    """The round-5 shingles rewrite (zip the token array with its own
    shifted tails; O(n) token-array references) must be bit-identical to
    the historical per-position form (transform over sequence(1, size-n+1)
    with slice+concat_ws), including element ORDER (array_distinct keeps
    first occurrence — band keys hash the array, so order matters)."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark.functions.text import shingles, tokens

    def per_position(text, n):
        toks = tokens(text)
        k = F.size(toks) - (n - 1)
        grams = F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(grams)

    rows = [
        (0, "a b c d e"),
        (1, "a a a a a"),                      # all-identical tokens
        (2, "x y x y x y"),                    # repeated n-grams (order pin)
        (3, "  spaced\t\tout \n tokens here "),  # mixed whitespace + trim
        (4, "one two"),                        # size < n
        (5, "solo"),
        (6, ""),
        (7, None),
        (8, "ü ñ 中 文 tokens"),                # non-ascii
        (9, " ".join(f"t{i % 4}" for i in range(30))),  # heavy dup windows
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (1, 2, 3, 5):
        got = docs.select(
            "doc_id", shingles(F.col("text"), n).alias("s")
        ).orderBy("doc_id").collect()
        want = docs.select(
            "doc_id", per_position(F.col("text"), n).alias("s")
        ).orderBy("doc_id").collect()
        assert [list(r["s"]) for r in got] == [list(r["s"]) for r in want], n


def test_minhash_signature_expression_form_matches_dataframe_plans(spark):
    """The column-expression form (minhash_signature) must produce the same
    values as the DataFrame plans, and [null]*num_hashes for docs with no
    shingles — after its round-5 rewrite from the nested-transform shape
    (which re-ran the shingle construction once per hash function) to the
    single aggregate fold."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark.functions.similarity import (
        minhash_signature,
        minhash_signatures,
    )

    rows = [
        (0, "the quick brown fox jumps over a lazy dog"),
        (1, "short doc"),
        (2, None),
        (3, "a b c d e f g a b c d e f g"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {
        r["doc_id"]: (list(r["s"]) if r["s"] is not None else None)
        for r in docs.select(
            "doc_id", minhash_signature(F.col("text")).alias("s")
        ).collect()
    }
    for plan in ("narrow", "explode"):
        df_sigs = {
            r["id"]: list(r["sig"])
            for r in minhash_signatures(docs, plan=plan).collect()
        }
        assert set(df_sigs) == {0, 3}
        for k, v in df_sigs.items():
            assert expr[k] == v, (plan, k)
    assert expr[1] == [None] * 16 and expr[2] == [None] * 16


def test_text_stats_table_matches_column_composition(spark):
    """text_stats_table (single tokenization pass) must be value-identical
    to the per-column function composition it replaces in the driver's
    text_stats query."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark.functions import text as T

    rows = [
        (0, "The quick brown fox and the lazy dog of the east"),
        (1, "el que la de un es en y"),
        (2, ""),
        (3, None),
        (4, "zzz qqq xxx"),
        (5, "Der und die das ist von ein zu der und"),
        (6, " ".join(["the"] * 100)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    via_columns = docs.select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("n_pieces"),
        F.round(T.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_id(F.col("text")).alias("lang_guess"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).orderBy("doc_id").collect()
    via_table = T.text_stats_table(docs).orderBy("doc_id").collect()
    assert [r.asDict() for r in via_table] == [r.asDict() for r in via_columns]


def test_transient_checkpoints_released(spark):
    """Pipeline operators register their internal checkpoints; after
    consuming results and calling release_transients(), the executor's
    persistent-RDD set returns to its pre-call state (no unbounded
    accumulation of pinned blocks across a long session)."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark import transients
    from libgrape_lite_spark.functions.text import text_stats_table
    from libgrape_lite_spark.operators.dedup import dedup_minhash, dedup_simhash

    def pinned_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    rows = [(i, f"w{i} w{i+1} w{i+2} w{i+3} common words here") for i in range(40)]
    rows.append((40, rows[0][1]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    before = pinned_ids()
    n_pairs = dedup_minhash(docs, threshold=0.5).count()
    dedup_simhash(docs, bits=64).count()
    text_stats_table(docs).count()
    assert len(pinned_ids()) > len(before)  # transients pinned while live
    released = transients.release_transients()
    assert released >= 3
    assert pinned_ids() <= before  # back to (at most) the pre-call set

    # scope form: released on exit, results consumed inside survive
    with transients.transient_scope():
        got = dedup_minhash(docs, threshold=0.5).count()
    assert got == n_pairs
    assert pinned_ids() <= before
