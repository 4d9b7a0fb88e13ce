"""One scaling-run leg: PageRank on the synthetic transcript graph at a
given core count. Invoked by bench_scaling.py inside a ``taskset``-pinned
subprocess so the JVM genuinely has only N CPUs (GC/netty/IO included) —
otherwise a local[N] run borrows the other cores for JVM services and the
N-vs-4N comparison under-reports scaling.

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PR_ROUNDS = int(os.environ.get("SPARK_GRAFT_PR_ROUNDS", "10"))


def _shuffle_compress(n_conversations: int) -> str:
    """"true"/"false" for the leg's shuffle codecs. Default flips to
    compressed at C >= 2M (r6 C=4M diagnosis: uncompressed cross-executor
    fetches cost 4-8x task-seconds at 4x the bytes). Override with
    SPARK_GRAFT_SHUFFLE_COMPRESS=0/1/true/false — parsed via explicit map,
    not substring replace (ADVICE r6: "10" became "truefalse")."""
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS")
    if env is not None:
        return {"0": "false", "1": "true"}.get(env, env)
    return "true" if n_conversations >= 2_000_000 else "false"


def main() -> None:
    cores = int(sys.argv[1])
    n_conversations = int(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    # optional 4th arg: a spark:// master URL — run against a real
    # standalone cluster (bench_scaling_standalone.py) instead of local[N];
    # ``cores`` is then the TOTAL core budget (spark.cores.max).
    master_url = sys.argv[4] if len(sys.argv) > 4 else None

    # record hygiene (VERDICT r7 task 7): capture load BEFORE this leg
    # does any work, so the quotability of the leg's start is auditable
    try:
        leg_loadavg_at_launch = list(os.getloadavg())
    except OSError:
        leg_loadavg_at_launch = []

    from libgrape_lite_spark import get_spark
    from libgrape_lite_spark.functions.edges import build_graph_from_transcripts
    from libgrape_lite_spark.operators import pagerank
    from libgrape_lite_spark.sources.transcripts import synthesize_transcripts

    if master_url:
        repo = Path(__file__).resolve().parent.parent
        pyzip = repo / "dist" / "libgrape_lite_spark.zip"
        exec_cores = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "8"))
        spark = get_spark(
            app_name=f"scaling-cluster{cores}",
            # partitions sized to the DATA, floored at 8: a 1-2-core leg
            # with partitions=cores builds one multi-GB hash-join map per
            # superstep and GC-stalls past the heartbeat timeout (measured:
            # C=2M, 1 core, partitions=1 → executor declared lost). Small
            # sequential tasks on few cores cost scheduler-ms, not GBs.
            master=master_url,
            shuffle_partitions=max(8, cores),
            extra_conf={
                # low-core legs run minutes-long single tasks; don't let a
                # GC pause or page-cache flush read as a dead executor
                "spark.network.timeout": "600s",
                **({"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "/tmp/spark-events"}
                   if os.environ.get("SPARK_GRAFT_EVENTLOG") else {}),
                "spark.executor.heartbeatInterval": "20s",
                "spark.executor.cores": str(min(exec_cores, cores)),
                "spark.executor.memory": os.environ.get("SPARK_GRAFT_EXEC_MEM", "18g"),
                "spark.cores.max": str(cores),
                "spark.submit.pyFiles": str(pyzip),
                # force ShuffledHashJoin for the superstep state join: no
                # per-round driver-built broadcast (serial, scales with
                # executor count) and no per-round sort of the pre-
                # partitioned adjacency (A/B-measured: 48s vs 66s for 10
                # rounds at C=250k on 4x8 executors)
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.join.preferSortMergeJoin": "false",
                # iterative jobs re-read localCheckpoint blocks every round;
                # the 3s default locality wait serializes multi-executor
                # stages (measured: 4x4-core executors SLOWER than 1x4 with
                # the default). A real cluster job wants this too.
                "spark.locality.wait": "0s",
                # loopback/fast-fabric: compression costs CPU, the scarce
                # resource here; shuffle bytes are cheap AT SMALL INPUTS.
                # r6 C=4M diagnosis: with 4x the bytes, the 4N leg's
                # cross-executor fetch stages cost 4-8x the N leg's
                # task-seconds (stage-level task accounting from the
                # executor logs, scaling_1787016361.json run) — so the
                # default flips to compressed at C >= 2M; override with
                # SPARK_GRAFT_SHUFFLE_COMPRESS=0/1.
                "spark.shuffle.compress": _shuffle_compress(n_conversations),
                # spills are rare at these sizes; keep the spill codec in
                # lockstep with the wire codec so a leg is either fully
                # compressed or fully raw (ADVICE r6: it was silently
                # flipped to "true" unconditionally for one round)
                "spark.shuffle.spill.compress": _shuffle_compress(n_conversations),
            },
        )
        spark.sparkContext.addPyFile(str(pyzip))
    else:
        spark = get_spark(
            app_name=f"scaling-local{cores}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
        )
    spark.sparkContext.setLogLevel("ERROR")
    t = synthesize_transcripts(spark, n_conversations, seed=seed).localCheckpoint(
        eager=True
    )
    # LocalVertexMap path: the oid→id dictionary at C=4M is ~28M rows — an
    # explicit broadcast of it OOMs the driver (and ignores the
    # autoBroadcastJoinThreshold conf). Shuffle joins are the 100 TB path.
    vertices, edges = build_graph_from_transcripts(t, broadcast_dict=False)
    vertices = vertices.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    n_vertices = vertices.count()
    pagerank(vertices, edges, max_rounds=1).count()  # warm-up (JIT, codegen)

    # the headline metric is SUPERSTEPS/sec (BASELINE.json): time the
    # rounds from the driver's own per-round metrics, and report the
    # one-time in-operator setup (adjacency doubling + repartition + pin,
    # degree init — O(E), amortized over a job's whole run at scale) as a
    # separate number. Superstep states are pinned serialized (GC on
    # pinned low-core executors was measured at 22-50% of round time with
    # per-row object caching).
    from libgrape_lite_spark.plans.superstep import IterationDriver

    drv = IterationDriver(spark)
    t0 = time.time()
    pagerank(vertices, edges, max_rounds=PR_ROUNDS, driver=drv).count()
    total = time.time() - t0
    rounds_sec = sum(m.t_ms for m in drv.metrics) / 1000.0
    setup_sec = total - rounds_sec
    try:
        loadavg_at_end = list(os.getloadavg())
    except OSError:
        loadavg_at_end = []
    print(
        json.dumps(
            {
                "cores": cores,
                "n_vertices": n_vertices,
                "n_edges": n_edges,
                "seconds": round(rounds_sec, 2),
                "setup_seconds": round(setup_sec, 2),
                "total_seconds": round(total, 2),
                "supersteps_per_sec": round(PR_ROUNDS / rounds_sec, 3),
                "edges_per_sec": round(2 * n_edges * PR_ROUNDS / rounds_sec, 1),
                # record hygiene (VERDICT r7 task 7): sweep legs carry the
                # same quotability evidence as bench rows — the load when
                # the leg's process launched (before any of its own work;
                # nonzero here means prior-leg or neighbor bleed-through)
                # and at the end (the leg's own work).
                "loadavg_at_start": leg_loadavg_at_launch,
                "loadavg_at_end": loadavg_at_end,
                "quotable_idle_start": bool(
                    leg_loadavg_at_launch and leg_loadavg_at_launch[0] < 2.0
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
