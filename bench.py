"""Benchmark harness (driver contract): headline queries at $SPARK_GRAFT_SF_DIR
on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric (BASELINE.json): PageRank supersteps/sec and
edges-processed/sec — reported as the MEDIAN of three back-to-back runs
inside this one invocation (raw triple in "pagerank_runs_sec"), so a
single host-noise spike can't set the record either way.

Round 6 (VERDICT r5 task 2): EVERY operator gets the same treatment —
three back-to-back runs in this one JVM, the quoted number is the
median, raw triples recorded under "op_runs_sec". The judge's two
back-to-back r5 runs differed 1.5-2× on single-measurement operators
with zero code change; sub-2× round-over-round comparisons were blind.

Protocol (fixed in round 5, VERDICT r4 items 1+3): the timed
``graph_build`` step prebuilds EVERY shared prepared layout via
``plans.kernels.prepare_graph`` — fragment bounds, PIE fragment table,
both push adjacencies, both gather adjacencies and the degree table.
Each per-operator number therefore measures supersteps only and
is comparable in any order (previously the first caller of a layout
absorbed its build). Every invocation also writes its full raw result —
machine-clock timestamps included — to ``BENCH/runs/bench_<epoch>.json``;
numbers quoted in BENCH/BASELINE.md must cite one of those files.

Set SPARK_GRAFT_SCALING=1 to additionally measure PageRank throughput at
local[8] vs local[32] on the same synthetic transcript graph and report
scaling efficiency (see scripts/bench_scaling.py and BENCH/BASELINE.md for
the recorded protocol).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PR_ROUNDS = 10
PR_REPEATS = 3
RUNS_DIR = Path(__file__).resolve().parent / "BENCH" / "runs"


def build_graph(spark, sf_dir):
    from libgrape_lite_spark.functions.edges import build_graph_from_transcripts
    from libgrape_lite_spark.sources.events import events_to_transcripts

    t = events_to_transcripts(spark, sf_dir)
    vertices, edges = build_graph_from_transcripts(t)
    vertices = vertices.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    return vertices, edges


def main() -> None:
    from libgrape_lite_spark import get_spark
    from libgrape_lite_spark.operators import bfs, cdlp, lcc, pagerank, sssp, wcc

    spark = get_spark(
        app_name="libgrape-lite-spark-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")

    wall_start = time.time()
    try:
        loadavg_at_start = list(os.getloadavg())
    except OSError:
        loadavg_at_start = []
    t0 = time.time()
    vertices, edges = build_graph(spark, SF_DIR)
    n_vertices = vertices.count()
    n_edges = edges.count()

    from libgrape_lite_spark.plans.kernels import prepare_graph
    from libgrape_lite_spark.session import tune_shuffle_partitions

    shuffle_parts = tune_shuffle_partitions(spark, 2 * n_edges, max_partitions=CPUS)
    # PrepareToRunApp-once: ALL shared layouts (bounds, PIE fragment,
    # push x2, gather x2, degree) are built here, inside the
    # timed build step, so every per-operator time below measures
    # supersteps only and comparisons are order-independent.
    t_prep0 = time.time()
    prepare_graph(vertices, edges, num_fragments=shuffle_parts)
    t_prep = time.time() - t_prep0
    t_build = time.time() - t0

    source_id = (
        vertices.orderBy("id").limit(1).collect()[0]["id"]
    )

    timings: dict[str, float] = {
        "graph_build": round(t_build, 3),
        "prep_tables": round(t_prep, 3),  # informational subset of graph_build
    }

    op_runs: dict[str, list[float]] = {}

    def timed(name, fn, repeats=PR_REPEATS):
        """Median of ``repeats`` back-to-back runs (one JVM, all warm —
        prep tables were built in graph_build). Raw triples go to
        op_runs_sec; transients (final superstep states) are released
        between runs so no run pays for a predecessor's pinned blocks."""
        from libgrape_lite_spark.transients import release_transients

        runs = []
        for _ in range(repeats):
            t = time.time()
            df = fn()
            df.count()  # force full evaluation
            runs.append(round(time.time() - t, 3))
            release_transients()
        op_runs[name] = runs
        timings[name] = statistics.median(runs)
        return timings[name]

    # headline first (unchanged protocol position)
    timed("pagerank", lambda: pagerank(vertices, edges, max_rounds=PR_ROUNDS))
    pr_runs = op_runs["pagerank"]
    pr_sec = timings["pagerank"]

    # convergence-mode PR (the metric's "to 1e-6 convergence" clause)
    from libgrape_lite_spark.plans.superstep import IterationDriver

    conv_drvs = []

    def conv_pr():
        drv = IterationDriver(spark)
        conv_drvs.append(drv)
        return pagerank(vertices, edges, max_rounds=100, tol=1e-6, driver=drv)

    timed("pagerank_to_1e6", conv_pr)
    conv_rounds = len(conv_drvs[-1].metrics)

    timed("wcc", lambda: wcc(vertices, edges))  # default impl = auto (PIE)
    timed("cdlp", lambda: cdlp(vertices, edges, max_rounds=10))
    timed("bfs", lambda: bfs(vertices, edges, source=source_id))
    timed("sssp", lambda: sssp(vertices, edges, source=source_id))
    timed("sssp_auto", lambda: sssp(vertices, edges, source=source_id, impl="auto"))
    timed("lcc", lambda: lcc(vertices, edges))

    # undirected doubling ⇒ 2E edge traversals per superstep
    edges_per_sec = (2 * n_edges * PR_ROUNDS) / pr_sec if pr_sec > 0 else 0.0

    out = {
        "metric": "pagerank_edges_processed_per_sec",
        "value": round(edges_per_sec, 1),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "pagerank_runs_sec": pr_runs,
        "op_runs_sec": op_runs,
        "pr_supersteps_per_sec": round(PR_ROUNDS / pr_sec, 3) if pr_sec else 0.0,
        "pr_rounds_to_1e6": conv_rounds,
        "pr_conv_supersteps_per_sec": round(
            conv_rounds / timings["pagerank_to_1e6"], 3
        )
        if timings.get("pagerank_to_1e6")
        else 0.0,
        "cpus": CPUS,
        "shuffle_partitions": shuffle_parts,
    }

    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        spark.stop()
        from scripts.bench_scaling import measure_scaling

        out["scaling"] = measure_scaling()

    # raw-run record (machine clock; record hygiene — every number quoted
    # in BENCH/BASELINE.md must cite one of these committed files)
    raw = dict(out)
    raw["wall_clock_start_epoch"] = round(wall_start, 3)
    raw["wall_clock_end_epoch"] = round(time.time(), 3)
    raw["loadavg_at_start"] = loadavg_at_start
    try:
        raw["loadavg_at_end"] = os.getloadavg()
    except OSError:
        pass
    # quoting rule (VERDICT r6 task 2): a record cited as a headline in
    # BENCH/BASELINE.md must have started on a near-idle box — the r6
    # record ran at loadavg 5.35 (its own pipeline activity) and produced
    # a number an idle box could not reproduce
    raw["quotable_idle_start"] = bool(loadavg_at_start and loadavg_at_start[0] < 2.0)
    # within-run shape check (r7): loadavg gates what THIS guest is doing,
    # but hypervisor neighbors are invisible to it — bench_1787056367 was
    # idle-start yet read sssp 7.2 -> 16.7 -> 23.8 s DEGRADING within one
    # JVM, which no warm-up effect produces. A healthy triple decays (JIT/
    # codegen warm-up); an op whose 3rd run exceeds 1.5x its 1st marks the
    # window as noise-contaminated and the record as non-quotable.
    degrading = sorted(
        op
        for op, runs in out.get("op_runs_sec", {}).items()
        if len(runs) >= 3 and runs[-1] > 1.5 * runs[0]
    )
    raw["degrading_ops"] = degrading
    raw["quotable"] = raw["quotable_idle_start"] and not degrading
    try:
        RUNS_DIR.mkdir(parents=True, exist_ok=True)
        run_file = RUNS_DIR / f"bench_{int(wall_start)}.json"
        run_file.write_text(json.dumps(raw, indent=1) + "\n")
    except OSError:
        pass  # read-only checkout: stdout line is still the contract

    print(json.dumps(out))


if __name__ == "__main__":
    main()
