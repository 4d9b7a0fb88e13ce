"""Rebuild-vs-merge cost of graph mutation (VERDICT r5 task 7).

Compares, on the sf-dir transcript graph in one JVM:

* ``rebuild``          — prepare_graph from scratch on a fresh copy of the
                         mutated edge table (what base+delta reload pays);
* ``merge_weight_only``— merge_edges with a weight-only delta +
                         prepare_graph on the merged table (topology
                         layouts carry over; only PIE + weighted-push
                         rebuild);
* ``merge_topology``   — merge_edges with an add/del delta +
                         prepare_graph. Round 7: layouts PATCH from the
                         base's pinned layouts (targeted re-prepare,
                         VERDICT r6 task 4); the ``merge_topology_rebuild``
                         leg (patch_layouts=False) is the r6 behavior —
                         bounds carry, everything else rebuilds.

Round 7: every leg is the median of three runs in this one JVM
(median-of-3 convention, VERDICT r5 task 2), with loadavg recorded at
start and end.

Writes BENCH/runs/mutation_<epoch>.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DELTA = 2000


def main() -> None:
    from pyspark.sql import functions as F

    from bench import build_graph
    from libgrape_lite_spark import get_spark
    from libgrape_lite_spark.mutation import merge_edges
    from libgrape_lite_spark.operators import wcc
    from libgrape_lite_spark.plans.kernels import (
        cached_edge_balanced_bounds,
        invalidate_prepared,
        prepare_graph,
    )
    from libgrape_lite_spark.session import tune_shuffle_partitions

    spark = get_spark(
        app_name="mutation-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    wall_start = time.time()
    loadavg_at_start = list(os.getloadavg())

    vertices, edges = build_graph(spark, SF_DIR)
    n_edges = edges.count()
    nf = tune_shuffle_partitions(spark, 2 * n_edges, max_partitions=CPUS)
    prepare_graph(vertices, edges, num_fragments=nf)
    cached_edge_balanced_bounds(edges, nf, key="src")

    # deterministic delta: the N_DELTA smallest (src, dst) edges
    sample = edges.orderBy("src", "dst").limit(N_DELTA).localCheckpoint(eager=True)
    w_delta = sample.select(
        F.lit("upd").alias("op"), "src", "dst", (F.col("weight") + 0.5).alias("weight")
    ).localCheckpoint(eager=True)
    t_delta = sample.select(
        F.lit("del").alias("op"), "src", "dst", "weight"
    ).localCheckpoint(eager=True)

    import statistics

    from libgrape_lite_spark.plans.kernels import release_pinned

    REPEATS = 3
    info: dict = {}

    def leg(name, fn):
        """Median of REPEATS runs; each run builds its own merged table
        and releases every block it pinned before the next."""
        runs = []
        for _ in range(REPEATS):
            t = time.time()
            tables = fn()
            runs.append(round(time.time() - t, 3))
            for tb in tables:
                invalidate_prepared(tb)
                release_pinned(tb)
        info[name] = {"sec": statistics.median(runs), "runs_sec": runs}
        return info[name]["sec"]

    def merge_and_prepare(delta, patch):
        m = merge_edges(edges, delta, patch_layouts=patch)
        info.setdefault("carried_layouts", {})[f"patch={patch}"] = len(
            m._lgls_carried_layouts
        )
        info.setdefault("pending_patches", {})[f"patch={patch}"] = len(
            m._lgls_pending_patches
        )
        prepare_graph(vertices, m, num_fragments=nf)
        return (m,)

    def fresh_rebuild():
        # same mutated rows, fresh object, no memos — what base+delta
        # reload pays (the localCheckpoint copy stands in for the load)
        merged = merge_edges(edges, t_delta, patch_layouts=False)
        rebuilt = merged.select("src", "dst", "weight").localCheckpoint(eager=True)
        prepare_graph(vertices, rebuilt, num_fragments=nf)
        return (merged, rebuilt)

    t_rebuild = leg("rebuild_prepare", fresh_rebuild)
    t_w = leg("merge_weight_only", lambda: merge_and_prepare(w_delta, True))

    # patched vs unpatched topology merge: the expected gap (one saved
    # wide shuffle per pair-min layout) is sub-2× at sf0.1, so decide it
    # the way sub-2× questions are decided on this box — paired
    # interleaved runs, median per-pair delta
    def one(patch: bool) -> float:
        t = time.time()
        tables = merge_and_prepare(t_delta, patch)
        dt = round(time.time() - t, 3)
        for tb in tables:
            invalidate_prepared(tb)
            release_pinned(tb)
        return dt

    n_pairs = 6
    pairs = []
    for i in range(n_pairs):
        if i % 2 == 0:
            p, r = one(True), one(False)
        else:
            r, p = one(False), one(True)
        pairs.append((p, r))
    deltas = [round(p - r, 3) for p, r in pairs]
    t_patched = statistics.median(p for p, _ in pairs)
    t_unpatched = statistics.median(r for _, r in pairs)
    info["topology_paired"] = {
        "pairs_patched_rebuild": pairs,
        "deltas_patched_minus_rebuild": deltas,
        "median_delta": round(statistics.median(deltas), 3),
        "patched_wins": sum(1 for d in deltas if d < 0),
        "rebuild_wins": sum(1 for d in deltas if d > 0),
    }

    # sanity: operators agree between patched-merged and rebuilt
    merged_t = merge_edges(edges, t_delta)
    rebuilt = merged_t.select("src", "dst", "weight").localCheckpoint(eager=True)
    a = sorted(map(tuple, wcc(vertices, merged_t).collect()))
    b = sorted(map(tuple, wcc(vertices, rebuilt).collect()))
    assert a == b, "merged vs rebuilt wcc mismatch"
    for e in (merged_t, rebuilt, edges):
        invalidate_prepared(e)

    out = {
        "metric": "mutation_merge_vs_rebuild",
        "sf": SF_DIR,
        "n_edges": n_edges,
        "n_delta": N_DELTA,
        "rebuild_prepare_sec": t_rebuild,
        "merge_weight_only_sec": t_w,
        "merge_topology_patched_sec": t_patched,
        "merge_topology_rebuild_sec": t_unpatched,
        "legs": info,
        "wcc_equivalence": True,
        "cpus": CPUS,
        "loadavg_at_start": loadavg_at_start,
        "wall_clock_start_epoch": round(wall_start, 3),
        "wall_clock_end_epoch": round(time.time(), 3),
    }
    try:
        out["loadavg_at_end"] = list(os.getloadavg())
    except OSError:
        pass
    runs = REPO / "BENCH" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"mutation_{int(wall_start)}.json").write_text(
        json.dumps(out, indent=1) + "\n"
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
