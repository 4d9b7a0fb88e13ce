"""Physical-plan audit: assert the scale-critical plan properties hold.

Checks (each prints PASS/FAIL and the evidence lines):

1. Parquet scans get predicate pushdown + column pruning (PushedFilters,
   ReadSchema) for a filtered/projected documents query.
2. A PageRank superstep join does NOT re-exchange the pre-partitioned
   adjacency (no Exchange directly above the adjacency scan).
3. Hot-path expressions run inside WholeStageCodegen.
4. The frontier join in SSSP/WCC broadcasts the (small) frontier side.

and, further down, dedup/knn plan shapes, the mutation patch, and the
CDLP vote gather over the adjacency's by-dst mirror view (no Exchange on
the adjacency side of its join).

Writes the audited plans to PLANS.md. Run: python scripts/audit_plans.py
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _join_child_with(tree: str, marker: str) -> str | None:
    """The subtree (tree-string lines) of the join child that reads the
    table whose scan output contains ``marker`` directly, with no join in
    between — None when no such child exists."""
    lines = tree.splitlines()

    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    for j, head in enumerate(lines):
        if "Join" not in head:
            continue
        child_col, block, blocks = col(head) + 3, [], []
        for ln in lines[j + 1:]:
            if col(ln) < child_col:
                break
            if col(ln) == child_col and block:
                blocks.append(block)
                block = []
            block.append(ln)
        blocks.append(block)
        for b in blocks:
            if any(marker in ln for ln in b) and not any("Join" in ln for ln in b):
                return "\n".join(b)
    return None


def main() -> int:
    from pyspark.sql import functions as F

    from libgrape_lite_spark import get_spark
    from libgrape_lite_spark.functions.edges import build_graph_from_transcripts, undirected
    from libgrape_lite_spark.sources.events import events_to_transcripts

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    results: list[tuple[str, bool, str]] = []
    sections: list[tuple[str, str]] = []

    # 1. pushdown + pruning
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", "n_chars")
    p = plan_of(q)
    pushed = re.search(r"PushedFilters: \[.*lang.*\]", p)
    # pruning keeps exactly the projected + filtered columns (3 of 5)
    pruned = re.search(r"ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>", p)
    results.append(("parquet pushdown+pruning", bool(pushed and pruned),
                    f"{pushed.group(0) if pushed else 'NO PushedFilters'} | "
                    f"{pruned.group(0) if pruned else 'NO pruned ReadSchema'}"))
    sections.append(("Filtered+projected parquet scan", p))

    # 2. superstep join does not re-shuffle pre-partitioned adjacency
    t = events_to_transcripts(spark, SF)
    vertices, edges = build_graph_from_transcripts(t)
    vertices = vertices.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    state = vertices.select(F.col("id").alias("src"), F.lit(1.0).alias("r"))
    # disable broadcast to audit the large-state shape; static_plans =
    # the operators' in-loop config (AQE re-plans insert an extra Exchange,
    # and an AQE-materialized repartition loses its partitioning metadata)
    from libgrape_lite_spark.session import static_plans

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    with static_plans(spark):
        adj = (
            undirected(edges.select("src", "dst"))
            .repartition("src")
            .localCheckpoint(eager=True)
        )
        step = (
            adj.join(state, "src").groupBy(F.col("dst").alias("id")).agg(F.sum("r").alias("g"))
        )
        p2 = plan_of(step)
        p2_simple = step._jdf.queryExecution().executedPlan().toString()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    # count Exchanges: expect exactly 2 (state side into join, groupBy) —
    # none for the adjacency scan
    n_exchange = len(re.findall(r"\(\d+\) Exchange", p2.split("== Physical Plan ==")[1]))
    results.append(("superstep: adjacency not re-shuffled (2 exchanges: state + combine)",
                    n_exchange == 2, f"exchanges={n_exchange}"))
    sections.append(("PageRank gather superstep (broadcast off, static plans)", p2))

    # 3. whole-stage codegen in hot path (executed plan shows *(n) spans)
    results.append(
        ("WholeStageCodegen present",
         "WholeStageCodegen" in p2_simple or "*(" in p2_simple,
         "see plan")
    )

    # 4. frontier join broadcasts the frontier
    frontier = vertices.limit(10).select(F.col("id").alias("src"))
    hop = adj.join(frontier, "src").select("dst")
    p3 = plan_of(hop)
    results.append(("small frontier broadcast join", "BroadcastHashJoin" in p3, "see plan"))
    sections.append(("Frontier expansion (sssp push)", p3))

    # 5. embedding dedup (LSH path): no cartesian / nested-loop join
    from libgrape_lite_spark.operators.dedup import dedup_embedding_cosine, dedup_minhash

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dd = dedup_embedding_cosine(emb, threshold=0.4, method="lsh")
    p4 = plan_of(dd)
    bad = ("CartesianProduct" in p4) or ("BroadcastNestedLoopJoin" in p4)
    results.append(
        ("embedding_dedup: LSH-bucketed, no CartesianProduct/BroadcastNestedLoopJoin",
         not bad, "bucketed hash joins only" if not bad else "nested-loop join found"))
    sections.append(("Embedding dedup (LSH candidates + exact-cosine verify)", p4))

    # 6. minhash near-dup verify is candidate-bounded (array_intersect per
    # candidate pair, not a co-shingle self-join aggregate)
    docs_full = spark.read.parquet(f"{SF}/documents.parquet")
    dm = dedup_minhash(docs_full, threshold=0.5, shingle_n=2)
    p5 = plan_of(dm)
    results.append(
        ("dedup_minhash: candidate-bounded verify (array_intersect on candidate pairs)",
         "array_intersect" in p5, "array_intersect in plan" if "array_intersect" in p5 else "missing"))
    sections.append(("MinHash dedup verify stage", p5))

    # 7. PIE auto-impl superstep (cogroup + Arrow kernel + min-combine):
    # the pinned, range-partitioned adjacency must enter the cogroup with
    # NO Exchange above its scan — only the state side's clustering and
    # the global min-combine shuffle (2 exchanges/superstep, same budget
    # as the dataframe superstep in check 2)
    from libgrape_lite_spark.plans.kernels import (
        cached_edge_balanced_bounds,
        local_min_fixpoint,
        segment_part_bounds,
    )

    with static_plans(spark):
        nf = 8
        bounds = cached_edge_balanced_bounds(edges, nf, key="src")
        adj_p = (
            undirected(edges.select("src", "dst"))
            .where(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .withColumn("part", segment_part_bounds("src", bounds))
            .repartition(nf, "part")
            .localCheckpoint(eager=True)
        )
        pie_state = vertices.select("id", F.col("id").alias("comp"))
        step7 = local_min_fixpoint(adj_p, pie_state, "comp", nf, bounds=bounds)
        p7 = plan_of(step7)
    phys7 = p7.split("== Physical Plan ==")[1]
    n_ex7 = len(re.findall(r"\(\d+\) Exchange", phys7))
    has_kernel = "FlatMapCoGroupsInPandas" in phys7
    results.append(
        ("PIE superstep (wcc/sssp auto, bfs): adjacency not re-shuffled into the "
         "cogroup kernel (2 exchanges: state + combine)",
         n_ex7 == 2 and has_kernel,
         f"exchanges={n_ex7}, arrow cogroup kernel={'yes' if has_kernel else 'MISSING'}"))
    sections.append(("PIE local-fixpoint superstep (cogroup + Arrow kernel + min-combine)", p7))

    # 8. banded simhash dedup: the corpus self-join must be a shuffled
    # hash join — a (mis-estimated) broadcast of the C x bands banded
    # corpus OOMs the driver at corpus scale (measured at C=1M before the
    # shuffle_hash hint), and a cartesian would be quadratic
    from libgrape_lite_spark.operators.dedup import dedup_simhash

    ds = dedup_simhash(docs_full, max_hamming=3, bits=64)
    p8 = plan_of(ds)
    phys8 = p8.split("== Physical Plan ==")[1]
    ok8 = (
        "ShuffledHashJoin" in phys8
        and "CartesianProduct" not in phys8
        and "BroadcastNestedLoopJoin" not in phys8
        and "BatchEvalPython" not in phys8  # pure JVM expressions
    )
    results.append(
        ("dedup_simhash: banded self-join is ShuffledHashJoin, no cartesian, "
         "no per-row Python (wall-times at C=1M: BENCH/runs/pipeline_*.json)",
         ok8, "shuffled hash join on (band, key)" if ok8 else "WRONG JOIN STRATEGY"))
    sections.append(("Banded SimHash dedup (candidates + bit_count verify)", p8))

    # 9. IVF ANN: centroid assignment and probe scoring are Arrow-vectorized
    # kernels (never row-at-a-time Python) — the probed queries ride the
    # scoring kernel's closure, the corpus never self-joins, and the only
    # shuffle is the final per-query top-k window
    from libgrape_lite_spark.operators.knn import knn_ivf

    ki = knn_ivf(emb, emb.where(F.col("vec_id") < 5), k=3, n_centroids=4, n_probe=2)
    p9 = plan_of(ki)
    phys9 = p9.split("== Physical Plan ==")[1]
    ok9 = (
        ("MapInPandas" in phys9 or "ArrowEvalPython" in phys9)
        and "BatchEvalPython" not in phys9
        and "CartesianProduct" not in phys9
    )
    results.append(
        ("knn_ivf: Arrow-vectorized assignment + closure-probe scoring kernel, "
         "no cartesian (wall-times at C=1M: BENCH/runs/pipeline_*.json)",
         ok9, "arrow kernels, top-k window only shuffle" if ok9
         else "row python or cartesian found"))
    sections.append(("IVF ANN probe (assign/score kernels + top-k)", p9))

    # 10. mutation adjacency patch, pure-removal path (merge_edges delv/del
    # with no reverse-stored survivors): broadcast anti-joins over the
    # pinned adjacency must preserve its partitioning — ZERO shuffle
    # Exchanges in the patch plan (the BENCH/BASELINE.md zero-shuffle
    # claim, machine-checked; BroadcastExchange of the delta-sized
    # removal sets is expected and not counted)
    from libgrape_lite_spark.mutation import _apply_removals
    from libgrape_lite_spark.plans.kernels import adjacency_table

    with static_plans(spark):
        vids = spark.createDataFrame([(7,)], "vid long").localCheckpoint(eager=True)
        patched = _apply_removals(adjacency_table(edges), False, vids, None)
        p10 = plan_of(patched)
    phys10 = p10.split("== Physical Plan ==")[1]
    n_ex10 = len(re.findall(r"\(\d+\) Exchange", phys10))
    ok10 = n_ex10 == 0 and "BroadcastHashJoin" in phys10
    results.append(
        ("mutation patch (pure removal): broadcast anti-joins, zero shuffle "
         "Exchanges — pinned layout partitioning preserved",
         ok10, f"shuffle exchanges={n_ex10}, "
         f"anti-join={'broadcast' if 'BroadcastHashJoin' in phys10 else 'MISSING'}"))
    sections.append(("Mutation adjacency patch, pure-removal path (delv anti-joins)", p10))

    # 11. CDLP superstep over the pinned adjacency's by-dst MIRROR view
    # (dst AS src, src AS dst): the adjacency's src hash partitioning and
    # ordering map through the aliases, so the join on dst must find the
    # adjacency side already clustered — no Exchange between its scan and
    # the join; only the label side and the two vote aggregates shuffle
    from libgrape_lite_spark.plans.kernels import gather_adjacency_table, invalidate_prepared

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    with static_plans(spark):
        mirror = gather_adjacency_table(edges, "dst", False)
        labels = vertices.select("id", F.col("id").alias("label"))
        counts = (
            mirror.join(labels.select(F.col("id").alias("dst"), "label"), "dst")
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.sum("cnt").alias("cnt"))
        )
        top = counts.groupBy("id").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
        ).select("id", (-F.col("m.neg")).alias("new_label"))
        step11 = labels.join(top, "id", "left")
        p11 = plan_of(step11)
        tree11 = step11._jdf.queryExecution().executedPlan().toString()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    adj_side = _join_child_with(tree11, "cnt#")
    n_ex11 = len(re.findall(r"\(\d+\) Exchange", p11.split("== Physical Plan ==")[1]))
    ok11 = adj_side is not None and "Exchange" not in adj_side
    results.append(
        ("cdlp superstep: vote gather over the by-dst mirror view, no Exchange on "
         "the adjacency side of its join",
         ok11, f"adjacency side={'not found' if adj_side is None else 'exchange-free' if ok11 else 'RE-SHUFFLED'}, "
         f"exchanges in superstep={n_ex11}"))
    sections.append(("CDLP superstep over the adjacency's by-dst mirror view", p11))
    invalidate_prepared(edges)

    ok = True
    lines = ["# PLANS — audited physical plans (scripts/audit_plans.py)\n"]
    for name, passed, ev in results:
        ok &= passed
        print(("PASS " if passed else "FAIL ") + name + " — " + ev)
        lines.append(f"- **{'PASS' if passed else 'FAIL'}** {name} — `{ev}`")
    lines.append("")
    for title, plan in sections:
        lines.append(f"\n## {title}\n\n```\n{plan.strip()}\n```")
    Path("PLANS.md").write_text("\n".join(lines))
    print("wrote PLANS.md")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
