"""Phase breakdown of bench.py's timed graph_build step (guide §1: measure
first). Reproduces build_graph + prepare_graph exactly, timing each phase
with a noop-style forced materialization where the real build forces one,
so the sum matches the bench's graph_build within noise.

Run: python scripts/profile_build.py [sf_dir] [repeats]
Prints one JSON line per repeat + a median line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)
REPEATS = int(sys.argv[2]) if len(sys.argv) > 2 else 1
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def one_pass(spark, tag):
    from pyspark.sql import functions as F

    from libgrape_lite_spark import transients
    from libgrape_lite_spark.functions import edges as edges_mod
    from libgrape_lite_spark.functions.ids import encode_edges, encode_vertices
    from libgrape_lite_spark.sources.events import events_to_transcripts

    t = {}

    def clock(name, fn):
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 3)
        return out

    spark.sparkContext.setJobDescription(f"{tag}: derive+checkpoint edges")
    tr = events_to_transcripts(spark, SF_DIR)
    wp = clock(
        "with_prev_ckpt",
        lambda: transients.register(
            edges_mod._with_prev(tr).localCheckpoint(eager=True)
        ),
    )
    e_oid = clock(
        "derive_edges_ckpt",
        lambda: edges_mod._edges_from_prev(wp).localCheckpoint(eager=True),
    )

    spark.sparkContext.setJobDescription(f"{tag}: encode vertices")
    endpoints = e_oid.select(F.col("src_oid").alias("oid")).unionByName(
        e_oid.select(F.col("dst_oid").alias("oid"))
    )
    turns = wp.select(
        F.concat(F.col("conv_id"), F.lit(":"), F.col("turn_idx").cast("string")).alias("oid")
    )
    vertices = clock(
        "encode_vertices", lambda: encode_vertices(endpoints.unionByName(turns))
    )
    spark.sparkContext.setJobDescription(f"{tag}: checkpoint vertices")
    vertices = clock("ckpt_vertices", lambda: vertices.localCheckpoint(eager=True))

    spark.sparkContext.setJobDescription(f"{tag}: encode+checkpoint edges")
    edges = clock(
        "encode_edges_ckpt",
        lambda: encode_edges(e_oid, vertices).localCheckpoint(eager=True),
    )
    spark.sparkContext.setJobDescription(f"{tag}: counts")
    clock("counts", lambda: (vertices.count(), edges.count()))

    from libgrape_lite_spark.plans.kernels import (
        adjacency_table,
        cached_degree_table,
        cached_edge_balanced_bounds,
        pie_fragment_table,
    )
    from libgrape_lite_spark.session import tune_shuffle_partitions

    n_edges = edges.count()
    nf = tune_shuffle_partitions(spark, 2 * n_edges, max_partitions=CPUS)

    spark.sparkContext.setJobDescription(f"{tag}: bounds")
    bounds = clock("bounds", lambda: cached_edge_balanced_bounds(edges, nf, key="src"))
    spark.sparkContext.setJobDescription(f"{tag}: adjacency")
    adj = clock("adjacency", lambda: adjacency_table(edges, directed=False))
    spark.sparkContext.setJobDescription(f"{tag}: pie table")
    clock("pie", lambda: pie_fragment_table(edges, nf, bounds, directed=False))
    spark.sparkContext.setJobDescription(f"{tag}: degree")
    clock("degree", lambda: cached_degree_table(edges, vertices, adj, False))
    spark.sparkContext.setJobDescription(None)

    t["total"] = round(sum(v for k, v in t.items() if k != "total"), 3)
    from libgrape_lite_spark.plans.kernels import invalidate_prepared

    invalidate_prepared(edges)
    transients.release_transients()
    return t


def main():
    from libgrape_lite_spark import get_spark

    spark = get_spark(
        app_name="profile-build", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    runs = []
    for i in range(REPEATS):
        spark.conf.set("spark.sql.shuffle.partitions", str(CPUS))
        t = one_pass(spark, f"build#{i}")
        runs.append(t)
        print(json.dumps({"run": i, **t}))
    if len(runs) > 1:
        med = {k: round(statistics.median(r[k] for r in runs), 3) for k in runs[0]}
        print(json.dumps({"run": "median", **med}))


if __name__ == "__main__":
    main()
