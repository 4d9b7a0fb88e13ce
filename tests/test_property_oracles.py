"""Property tests vs NumPy/pure-Python oracles (SURVEY.md §7 risk register:
CDLP tie-breaking and per-parallel-edge multiplicity must match
cdlp_utils.h:28-60 exactly; WCC vs union-find; BFS vs a deque search;
SSSP vs Dijkstra)."""

from __future__ import annotations

import heapq
import math
from collections import Counter, deque

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tests.conftest import make_edges, make_vertices

N_VERTICES = 8

edge_lists = st.lists(
    st.tuples(st.integers(0, N_VERTICES - 1), st.integers(0, N_VERTICES - 1)),
    min_size=1,
    max_size=14,
)


def _cdlp_oracle(n, edges, rounds):
    """Reference recurrence (cdlp.h:37-162 + cdlp_utils.h:28-60):
    synchronous rounds; vote per out-adjacency entry on the doubled
    multigraph; most frequent, ties → smallest; isolated keep label."""
    adj: dict[int, list[int]] = {v: [] for v in range(n)}
    for s, d in edges:
        adj[s].append(d)
        adj[d].append(s)
    labels = list(range(n))
    for _ in range(rounds):
        new = labels[:]
        for v in range(n):
            if not adj[v]:
                continue
            votes = Counter(labels[u] for u in adj[v])
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return {v: labels[v] for v in range(n)}


def _wcc_oracle(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in range(n)}


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists, rounds=st.integers(1, 3))
def test_cdlp_matches_oracle(spark, edges, rounds):
    from libgrape_lite_spark.operators import cdlp

    v = make_vertices(spark, range(N_VERTICES))
    e = make_edges(spark, edges)
    got = {r["id"]: r["label"] for r in cdlp(v, e, max_rounds=rounds).collect()}
    assert got == _cdlp_oracle(N_VERTICES, edges, rounds)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists, directed=st.booleans())
def test_prepared_layouts_match_per_edge_definitions(spark, edges, directed):
    """prepare_graph pins one pair-aggregated adjacency; every layout it
    returns must equal the per-edge definition it replaces: the
    ``cnt``-expanded gathers are the doubled multiset (the by-dst mirror
    included), push is its distinct non-self-loop pairs, the weighted
    push and PIE hold each pair's min weight, and the degree table
    counts rows."""
    from libgrape_lite_spark.plans.kernels import invalidate_prepared, prepare_graph

    weights = [float(1 + i % 3) for i in range(len(edges))]
    v = make_vertices(spark, range(N_VERTICES))
    e = make_edges(spark, edges, weights)
    layouts = prepare_graph(v, e, num_fragments=3, directed=directed)

    rows = [(s, d, w) for (s, d), w in zip(edges, weights)]
    if not directed:
        rows += [(d, s, w) for s, d, w in rows]
    multiset = Counter((s, d) for s, d, _w in rows)
    min_w: dict = {}
    for s, d, w in rows:
        min_w[(s, d)] = min(w, min_w.get((s, d), w))

    for name in ("gather_src", "gather_dst"):
        got = [(r["src"], r["dst"], r["cnt"]) for r in layouts[name].collect()]
        assert len({(s, d) for s, d, _c in got}) == len(got)  # one row per pair
        assert Counter({(s, d): c for s, d, c in got}) == multiset
    assert sorted(tuple(r) for r in layouts["push"].collect()) == sorted(
        p for p in multiset if p[0] != p[1]
    )
    for name in ("push_weighted", "pie"):
        got = {(r["src"], r["dst"]): r["weight"] for r in layouts[name].collect()}
        assert got == min_w
    degree = Counter()
    for s, _d, _w in rows:
        degree[s] += 1
    assert {r["id"]: r["degree"] for r in layouts["degree"].collect()} == {
        i: degree[i] for i in range(N_VERTICES)
    }
    invalidate_prepared(e)


@pytest.mark.parametrize("impl", ["auto", "twostar"])
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_wcc_matches_union_find(spark, edges, impl):
    from libgrape_lite_spark.operators import wcc

    v = make_vertices(spark, range(N_VERTICES))
    e = make_edges(spark, edges)
    got = {r["id"]: r["comp"] for r in wcc(v, e, impl=impl).collect()}
    assert got == _wcc_oracle(N_VERTICES, edges)


def _adjacency(n, edges, directed):
    """Out-adjacency lists; undirected graphs store both orientations.
    Parallel edges and self-loops stay in — the operators must cope."""
    adj: dict[int, list] = {v: [] for v in range(n)}
    for e in edges:
        s, d, rest = e[0], e[1], e[2:]
        adj[s].append((d, *rest))
        if not directed:
            adj[d].append((s, *rest))
    return adj


def _bfs_oracle(n, edges, source, directed, max_rounds):
    """Level-order search with a deque; levels past ``max_rounds`` and
    unreached vertices read INT64_MAX (bfs_auto_context.h:44)."""
    from libgrape_lite_spark.operators.bfs import INT64_MAX

    adj = _adjacency(n, edges, directed)
    depth = {source: 0}
    queue = deque([source])
    while queue:
        u = queue.popleft()
        for (w,) in adj[u]:
            if w not in depth:
                depth[w] = depth[u] + 1
                queue.append(w)
    return {
        v: depth[v] if v in depth and (max_rounds is None or depth[v] <= max_rounds)
        else INT64_MAX
        for v in range(n)
    }


def _sssp_oracle(n, edges, source, directed):
    """Dijkstra with a binary heap; unreached vertices read +inf."""
    adj = _adjacency(n, edges, directed)
    dist = {v: math.inf for v in range(n)}
    dist[source] = 0.0
    heap = [(0.0, source)]
    while heap:
        du, u = heapq.heappop(heap)
        if du > dist[u]:
            continue
        for w, wt in adj[u]:
            if du + wt < dist[w]:
                dist[w] = du + wt
                heapq.heappush(heap, (dist[w], w))
    return dist


# a chain past the depth budget, with a self-loop, a parallel edge and
# isolated vertices 6 and 7
_CHAIN_EXAMPLE = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (2, 2), (1, 2)]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=edge_lists,
    source=st.integers(0, N_VERTICES - 1),
    directed=st.booleans(),
    max_rounds=st.one_of(st.none(), st.integers(1, 3)),
)
@example(edges=_CHAIN_EXAMPLE, source=0, directed=False, max_rounds=2)
@example(edges=_CHAIN_EXAMPLE, source=1, directed=True, max_rounds=None)
def test_bfs_matches_deque_oracle(spark, edges, source, directed, max_rounds):
    from libgrape_lite_spark.operators import bfs

    v = make_vertices(spark, range(N_VERTICES))
    e = make_edges(spark, edges)
    got = {
        r["id"]: r["depth"]
        for r in bfs(
            v, e, source=source, directed=directed, max_rounds=max_rounds
        ).collect()
    }
    assert got == _bfs_oracle(N_VERTICES, edges, source, directed, max_rounds)


# dyadic weights: every path sum is exact, so distances compare with ==
_weights = st.lists(
    st.sampled_from([0.5, 1.0, 2.5, 4.0]), min_size=14, max_size=14
)


@pytest.mark.parametrize("impl", ["dataframe", "auto"])
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=edge_lists,
    weights=_weights,
    source=st.integers(0, N_VERTICES - 1),
    directed=st.booleans(),
)
@example(
    edges=_CHAIN_EXAMPLE, weights=[0.5, 1.0, 2.5, 4.0, 0.5, 1.0, 0.5] + [1.0] * 7,
    source=0, directed=False,
)
def test_sssp_matches_dijkstra(spark, impl, edges, weights, source, directed):
    from libgrape_lite_spark.operators import sssp

    wedges = [(s, d, w) for (s, d), w in zip(edges, weights)]
    v = make_vertices(spark, range(N_VERTICES))
    e = make_edges(spark, wedges)
    got = {
        r["id"]: r["dist"]
        for r in sssp(v, e, source=source, directed=directed, impl=impl).collect()
    }
    assert got == _sssp_oracle(N_VERTICES, wedges, source, directed)


def test_lcc_matches_bruteforce(spark):
    """Random-ish fixed multigraph: LCC vs O(n³) brute force with the
    reference's degree definition (doubled multigraph adjacency length)."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 2), (4, 4), (3, 1)]
    from libgrape_lite_spark.operators import lcc

    n = 5
    deg = [0] * n
    nbrs = [set() for _ in range(n)]
    for s, d in edges:
        deg[s] += 1
        deg[d] += 1
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    tri = [0] * n
    for a in range(n):
        for b in nbrs[a]:
            for c in nbrs[a]:
                if b < c and c in nbrs[b]:
                    tri[a] += 1
    want = {
        v: (2.0 * tri[v] / (deg[v] * (deg[v] - 1)) if deg[v] >= 2 else 0.0)
        for v in range(n)
    }
    got = {
        r["id"]: r["lcc"]
        for r in lcc(make_vertices(spark, range(n)), make_edges(spark, edges)).collect()
    }
    for v in range(n):
        assert got[v] == pytest.approx(want[v]), v


def test_lcc_degree_threshold_matches_filtered_bruteforce(spark):
    """Reference --degree_threshold parity (lcc.h:234-243): edges with an
    endpoint whose degree exceeds the threshold leave the oriented graph,
    so triangles through hubs vanish everywhere; denominators keep the
    original degree; thr=huge equals the exact result."""
    from libgrape_lite_spark.operators import lcc

    # hub 0 touches everyone; 1-2-3 is a hub-free triangle; 0-1-2 / 0-2-3
    # are hub triangles that must disappear under the threshold
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (1, 2), (2, 3), (1, 3), (4, 5)]
    n = 6
    deg = [0] * n
    for s, d in edges:
        deg[s] += 1
        deg[d] += 1
    thr = 4  # deg(0) = 5 > 4 → filtered

    def brute(threshold):
        nbrs = [set() for _ in range(n)]
        for s, d in edges:
            if s != d and deg[s] <= threshold and deg[d] <= threshold:
                nbrs[s].add(d)
                nbrs[d].add(s)
        tri = [0] * n
        for a in range(n):
            for b in nbrs[a]:
                for c in nbrs[a]:
                    if b < c and c in nbrs[b]:
                        tri[a] += 1
        return {
            v: (2.0 * tri[v] / (deg[v] * (deg[v] - 1)) if deg[v] >= 2 else 0.0)
            for v in range(n)
        }

    v, e = make_vertices(spark, range(n)), make_edges(spark, edges)
    got = {r["id"]: r["lcc"] for r in lcc(v, e, degree_threshold=thr).collect()}
    want = brute(thr)
    for u in range(n):
        assert got[u] == pytest.approx(want[u]), u
    assert got[0] == 0.0  # the filtered hub reports 0 like the reference
    # sanity: a huge threshold reproduces the exact LCC
    exact = {r["id"]: r["lcc"] for r in lcc(v, e, degree_threshold=10**9).collect()}
    noflt = {r["id"]: r["lcc"] for r in lcc(v, e).collect()}
    assert exact == noflt


# -- merge_edges vs rebuild (mutation.py; mutable_edgecut_fragment.h:191) --

_mut_base = st.lists(
    st.tuples(
        st.integers(1, 6),
        st.integers(1, 6),
        st.sampled_from([0.5, 1.0, 2.5, 4.0]),
    ),
    min_size=2,
    max_size=10,
)
_mut_ops = st.lists(
    st.tuples(
        st.sampled_from(["add", "del", "upd", "delv"]),
        st.integers(1, 6),
        st.integers(1, 7),  # adds may introduce a brand-new vertex 7
        st.sampled_from([0.2, 3.0, 9.9]),
    ),
    min_size=1,
    max_size=8,
)


def _merge_oracle(base, delta):
    """merge_edges semantics in pure Python (module docstring order:
    delv anti-join → del anti-join → upd coalesce → union adds; adds are
    appended AFTER removals and never themselves removed/updated)."""
    vids = {s for (op, s, _d, _w) in delta if op == "delv"}
    dels = {(s, d) for (op, s, d, _w) in delta if op == "del"}
    upds = {(s, d): w for (op, s, d, w) in delta if op == "upd"}
    adds = [(s, d, w) for (op, s, d, w) in delta if op == "add"]
    out = [
        (s, d, upds.get((s, d), w))
        for (s, d, w) in base
        if s not in vids and d not in vids and (s, d) not in dels
    ]
    return sorted(out + adds)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(base=_mut_base, delta=_mut_ops, directed=st.booleans())
def test_merge_edges_matches_rebuild_and_oracle(spark, base, delta, directed):
    """Random deltas: the merged table must equal the pure-Python oracle,
    and every PATCHED prepared layout must be row-identical to the same
    builder run from scratch on a fresh table with the merged rows — the
    patch path (lazy thunks over the base's pinned layouts) can never
    disagree with a full rebuild, whatever the delta shape (including
    deltas that empty the graph)."""
    from libgrape_lite_spark.mutation import merge_edges
    from libgrape_lite_spark.plans import kernels
    from libgrape_lite_spark.plans.kernels import (
        gather_adjacency_table,
        invalidate_prepared,
        push_adjacency_table,
    )

    fallbacks = kernels._PATCH_FALLBACKS
    # one row per (op, src, dst): duplicate upds on a pair would make the
    # winner arbitrary in both engine and oracle
    delta = list({(op, s, d): (op, s, d, w) for op, s, d, w in delta}.values())
    e = make_edges(spark, base)
    # warm only the adjacency (merge_edges registers its patch thunk;
    # both layouts compared below are views of it, the weighted push with
    # ``cnt``; prepare_graph's full warm made each example ~5x slower for
    # no extra signal)
    push_adjacency_table(e, directed=directed, weighted=True)
    merged = merge_edges(
        e, spark.createDataFrame(delta, "op string, src long, dst long, weight double")
    )
    want = _merge_oracle(base, delta)
    assert sorted(tuple(r) for r in merged.collect()) == want

    fresh = spark.createDataFrame(merged.collect(), merged.schema)
    for build in (
        lambda t: push_adjacency_table(t, directed=directed, weighted=True),
        lambda t: gather_adjacency_table(t, "src", directed),
    ):
        got = sorted(tuple(r) for r in build(merged).collect())
        ref = sorted(tuple(r) for r in build(fresh).collect())
        assert got == ref
    assert kernels._PATCH_FALLBACKS == fallbacks  # the patch ran, no rebuild
    for t in (e, merged, fresh):
        invalidate_prepared(t)


# -- one-call mutate (vertex + edge delta) vs pure-Python oracle (r8, --
# -- VERDICT r7 task 5: the vertex path gets the same property coverage --
# -- that caught two real bugs on the edge path) --

_vtx_ops = st.lists(
    st.tuples(
        st.sampled_from(["addv", "updv", "delv"]),
        st.integers(1, 7),
        st.sampled_from(["x", "y", "z"]),
    ),
    max_size=5,
)


def _mutate_oracle(base_v, base_e, vrows, erows):
    """mutate() semantics in pure Python: vertex side = delv first, then
    one addv/updv upsert per id (addv upserts, updv existing-only); edge
    side = merge_edges with the delv ids riding as vertex removals."""
    vdel = {i for (op, i, _lab) in vrows if op == "delv"}
    vout = {i: lab for (i, lab) in base_v if i not in vdel}
    for op, i, lab in vrows:
        if op == "addv":
            vout[i] = lab
        elif op == "updv" and i in vout:
            vout[i] = lab
    dels = {(s, d) for (op, s, d, _w) in erows if op == "del"}
    upds = {(s, d): w for (op, s, d, w) in erows if op == "upd"}
    adds = [(s, d, w) for (op, s, d, w) in erows if op == "add"]
    eout = [
        (s, d, upds.get((s, d), w))
        for (s, d, w) in base_e
        if s not in vdel and d not in vdel and (s, d) not in dels
    ]
    return sorted(vout.items()), sorted(eout + adds)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(base=_mut_base, vops=_vtx_ops, eops=_mut_ops, directed=st.booleans())
def test_mutate_matches_oracle(spark, base, vops, eops, directed):
    """Random MIXED deltas through the one-call mutate(): merged vertices
    and edges must equal the pure-Python oracle, and a patched layout must
    match a fresh rebuild in SCHEMA (columns — the r7 delv column-swap
    class) and positional rows."""
    from pyspark.sql import functions as F

    from libgrape_lite_spark.mutation import mutate
    from libgrape_lite_spark.plans import kernels
    from libgrape_lite_spark.plans.kernels import (
        invalidate_prepared,
        push_adjacency_table,
    )

    fallbacks = kernels._PATCH_FALLBACKS

    # canonicalize: one addv-or-updv per id (merge_vertices dedups the
    # combined upsert set by id, so a mixed addv+updv on one id would
    # have an arbitrary winner in BOTH engine and oracle); one edge op
    # per (op, src, dst)
    seen: set = set()
    vrows = []
    for op, i, lab in vops:
        k = ("uv", i) if op in ("addv", "updv") else ("delv", i)
        if k in seen:
            continue
        seen.add(k)
        vrows.append((op, i, lab))
    erows = list({(op, s, d): (op, s, d, w) for op, s, d, w in eops}.values())

    base_v = [(i, "b") for i in range(1, 7)]
    v = spark.createDataFrame(base_v, "id long, label string")
    e = make_edges(spark, base)
    push_adjacency_table(e, directed=directed, weighted=True)

    ns = None
    delta_rows = [
        (op, i, lab, None, None, None) for (op, i, lab) in vrows
    ] + [(op, ns, ns, s, d, float(w)) for (op, s, d, w) in erows]
    if not delta_rows:
        return
    delta = spark.createDataFrame(
        delta_rows, "op string, id long, label string, src long, dst long, weight double"
    )
    v2, e2 = mutate(v, e, delta)
    want_v, want_e = _mutate_oracle(base_v, base, vrows, erows)
    assert sorted(tuple(r) for r in v2.collect()) == want_v
    assert sorted(tuple(r) for r in e2.collect()) == want_e

    if e2 is not e:
        fresh = spark.createDataFrame(e2.collect(), e2.schema)
        patched = push_adjacency_table(e2, directed=directed, weighted=True)
        rebuilt = push_adjacency_table(fresh, directed=directed, weighted=True)
        assert patched.columns == rebuilt.columns
        assert sorted(tuple(r) for r in patched.collect()) == sorted(
            tuple(r) for r in rebuilt.collect()
        )
        assert kernels._PATCH_FALLBACKS == fallbacks
        invalidate_prepared(fresh)
        invalidate_prepared(e2)
    invalidate_prepared(e)
