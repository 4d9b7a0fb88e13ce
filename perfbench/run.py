"""One run of one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Before Spark starts, the run puts the
repository on ``PYTHONPATH``, which Spark's Python workers need to import
the package (``synthesize_transcripts`` runs ``mapInPandas``), and points
every scratch directory at ``.bench_build/perfbench/`` in the checkout.
Only the package's public functions are called, and each is timed from
outside. The last line on stdout is the run's JSON result; logs go to
stderr. At the end the run stops Spark, waits for the JVM to exit and
deletes its scratch directory. It exits non-zero, printing no result, when
the package is not there, a call leaves a metric unmeasured, or the run
exceeds its time limit.

Workloads:

* ``analytics-sf0.01``: the events graph of the committed sf0.01 table.
  A pass builds the graph, runs the six LDBC algorithms, applies one mixed
  mutation and runs wcc and pagerank on the merged graph. Algorithm
  outputs are checked against DuckDB oracle results, those on the base
  graph committed in ``expected/``, those on the merged graph computed
  over the pandas replay of the mutation in ``reference.py``.
* ``ingest-synth``: synthetic transcripts with Zipf-skewed tool hubs,
  written to parquet during set-up, then built once untimed. A pass is one
  warm build from the parquet, checked against DuckDB counts over it.

Both workloads report the same end-to-end metrics; with ``--trace 1`` they
report the per-layer metrics instead (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd

from stagemetrics import StageTrace, superstep_stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
EVENTS_DIR = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected"
CORES = 4
PR_ROUNDS = 10
CDLP_ROUNDS = 10
SYNTH_CONVERSATIONS = 5000
# Each op kind of the mutation touches this share of its table: the share
# of edges in each delta of scripts/bench_mutation.py (2000 of sf0.1's
# 208,586 edges, one leg of upd rows and one of del rows).
DELTA_SHARE = 2000 / 208_586
RUN_LIMIT_S = 170
MB = 1_000_000
INT64_MAX = (1 << 63) - 1
OPS = ("pagerank", "wcc", "cdlp", "bfs", "sssp", "lcc")
SUPERSTEP_OPS = OPS[:5]
POST_MUTATION_OPS = ("wcc", "pagerank")
OP_LAYER_UNITS = {"wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
                  "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
                  "shuffle_mb": "MB", "spill_mb": "MB", "core_busy_share": "share"}


def process_start() -> float:
    """Wall-clock time this process started (Linux: its start tick in /proc)."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    """Timed calls, their checks and the run's bookkeeping."""

    def __init__(self, spark, t0: float, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.t0 = t0
        self.trace = StageTrace(spark) if trace else None
        self.setup_s = 0.0
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed_calls: set[tuple[str, int]] = set()
        self.storage_peak_mb = 0.0
        self.after_release: list[tuple[int, float]] = []
        self.iterations: dict[str, object] = {}
        self.counts: dict[str, float] = {}
        self._call = ("", 0)

    # -- timing -----------------------------------------------------------
    def setup_done(self) -> None:
        self.setup_s = time.time() - self.t0
        log(f"setup_s={self.setup_s:.2f}")

    def timed(self, name: str, fn):
        """One timed call. Returns its result, or None if it raised."""
        self.attempted += 1
        self._call = (name, self.attempted)
        spans_before = len(self.trace.calls) if self.trace else 0
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self.failed_calls.add(self._call)
            return None
        wall = time.perf_counter() - t0
        if self.trace:
            wall -= sum(c.collect_s for c in self.trace.calls[spans_before:])
        self.samples.setdefault(name, []).append(wall)
        self.storage_peak_mb = max(self.storage_peak_mb, self.storage_mb())
        log(f"{name}: {wall:.3f}s")
        return out

    @contextmanager
    def span(self, layer: str):
        """A traced span around one layer's call; nothing when untraced."""
        if self.trace is None:
            yield None
            return
        with self.trace.call(layer) as stats:
            yield stats

    def check(self, ok: bool, what: str) -> bool:
        """Record a failed output check against the current call."""
        if not ok:
            log(f"CHECK FAILED in {self._call[0]}: {what}")
            self.failed_calls.add(self._call)
        return ok

    # -- storage ----------------------------------------------------------
    def storage_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def released(self) -> None:
        """Record pinned state after a call and its release."""
        rdds = self.sc._jsc.getPersistentRDDs().size()
        self.after_release.append((rdds, self.storage_mb()))

    def median(self, name: str) -> float:
        return statistics.median(self.samples[name])


# -- graph life cycle ------------------------------------------------------
class Graph:
    def __init__(self, vertices, edges, n_vertices: int, n_edges: int, parts: int):
        self.vertices, self.edges = vertices, edges
        self.n_vertices, self.n_edges, self.parts = n_vertices, n_edges, parts

    def release(self) -> None:
        from libgrape_lite_spark.plans.kernels import invalidate_prepared, release_pinned

        invalidate_prepared(self.edges)
        release_pinned(self.vertices)
        release_pinned(self.edges)


def build_graph(b: Bench, read) -> Graph:
    """transcripts → pinned (vertices, edges) → every prepared layout."""
    from libgrape_lite_spark.functions.edges import build_graph_from_transcripts
    from libgrape_lite_spark.plans.kernels import prepare_graph
    from libgrape_lite_spark.session import tune_shuffle_partitions

    if b.trace is not None:
        with b.span("sources.read"):
            b.counts["sources.turns"] = read().count()
    with b.span("functions.build"):
        v, e = build_graph_from_transcripts(read())
        v = v.localCheckpoint(eager=True)
        e = e.localCheckpoint(eager=True)
        nv, ne = v.count(), e.count()
    b.counts["functions.vertices"], b.counts["functions.edges"] = nv, ne
    parts = tune_shuffle_partitions(b.spark, 2 * ne, max_partitions=CORES)
    with b.span("plans.prepare"):
        prepare_graph(v, e, num_fragments=parts)
    b.counts["plans.pinned_mb"] = b.storage_mb()
    return Graph(v, e, nv, ne, parts)


def run_op(b: Bench, g: Graph, op: str, source: int | None = None, layer: str = "operators"):
    """Run one algorithm to completion under the span ``<layer>.<op>``;
    returns its result frame."""
    from libgrape_lite_spark import operators
    from libgrape_lite_spark.plans.superstep import IterationDriver

    kwargs: dict = {}
    if op != "lcc":
        kwargs["driver"] = b.iterations[f"{layer}.{op}"] = IterationDriver(b.spark)
    if op in ("pagerank", "cdlp"):
        kwargs["max_rounds"] = PR_ROUNDS if op == "pagerank" else CDLP_ROUNDS
    if op in ("bfs", "sssp"):
        kwargs["source"] = source
    with b.span(f"{layer}.{op}"):
        out = getattr(operators, op)(g.vertices, g.edges, **kwargs)
        out.count()
    return out


def release_transients(b: Bench) -> None:
    from libgrape_lite_spark.transients import release_transients as release

    release()
    b.released()


def collect_graph(g: Graph) -> tuple[pd.DataFrame, pd.DataFrame]:
    v = g.vertices.select("id", "oid").toPandas()
    e = g.edges.select("src", "dst", "weight").toPandas()
    return v, e


# -- mutation --------------------------------------------------------------
def make_delta(v: pd.DataFrame, e: pd.DataFrame, rng: np.random.Generator) -> list[tuple]:
    """A mixed delta. Each vertex op (delv, updv, addv) touches DELTA_SHARE
    of the vertices, each edge op (del, upd, add) DELTA_SHARE of the edges.
    del and upd pick distinct live edges; each new vertex gets one added
    edge, the other added edges join surviving vertices."""
    n_v, n_e = round(DELTA_SHARE * len(v)), round(DELTA_SHARE * len(e))
    ids = rng.choice(v.id.to_numpy(), size=2 * n_v, replace=False)
    delv, updv = ids[:n_v], ids[n_v:]
    new_ids = v.id.max() + 1 + np.arange(n_v)
    live = e[~(e.src.isin(delv) | e.dst.isin(delv))].drop_duplicates(["src", "dst"])
    picked = live.iloc[rng.choice(len(live), size=2 * n_e, replace=False)]
    dels, upds = picked.iloc[:n_e], picked.iloc[n_e:]
    survivors = np.setdiff1d(v.id.to_numpy(), delv)
    add_src = rng.choice(survivors, size=n_e)
    add_dst = np.concatenate([new_ids, rng.choice(survivors, size=n_e - n_v)])
    return (
        [("delv", int(i), None, None, None, None) for i in delv]
        + [("updv", int(i), f"upd::{i}", None, None, None) for i in updv]
        + [("addv", int(i), f"new::{i}", None, None, None) for i in new_ids]
        + [("del", None, None, int(r.src), int(r.dst), None) for r in dels.itertuples()]
        + [("upd", None, None, int(r.src), int(r.dst), float(r.weight) + 1.0)
           for r in upds.itertuples()]
        + [("add", None, None, int(s), int(d), 1.0) for s, d in zip(add_src, add_dst)]
    )


DELTA_SCHEMA = "op string, id long, oid string, src long, dst long, weight double"


def delta_frame(rows: list[tuple]) -> pd.DataFrame:
    d = pd.DataFrame(rows, columns=["op", "id", "oid", "src", "dst", "weight"])
    return d.astype({"id": "Int64", "src": "Int64", "dst": "Int64"})


def mutate_graph(b: Bench, g: Graph, delta: pd.DataFrame) -> Graph:
    """``mutation.mutate`` plus ``prepare_graph`` on the merged tables."""
    from libgrape_lite_spark.mutation import mutate
    from libgrape_lite_spark.plans.kernels import prepare_graph

    frame = b.spark.createDataFrame(delta, DELTA_SCHEMA)
    with b.span("mutation.apply"):
        v2, e2 = mutate(g.vertices, g.edges, frame)
    with b.span("mutation.reprepare"):
        prepare_graph(v2, e2, num_fragments=g.parts)
    return Graph(v2, e2, -1, -1, g.parts)


def check_mutation(b: Bench, base_v, base_e, delta, merged: Graph):
    """Check the merged tables against the pandas replay; returns the replay."""
    import reference

    want_v, want_e = reference.apply_delta(base_v, base_e, delta_frame(delta))
    got_v = merged.vertices.select("id", "oid").toPandas()
    got_e = merged.edges.select("src", "dst", "weight").toPandas()
    b.check(sorted(map(tuple, got_v.to_numpy().tolist())) ==
            sorted(map(tuple, want_v.to_numpy().tolist())), "merged vertices")
    b.check(sorted(map(tuple, got_e.to_numpy().tolist())) ==
            sorted(map(tuple, want_e.to_numpy().tolist())), "merged edges")
    return want_v, want_e


def check_post_mutation(b: Bench, op: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    """wcc or pagerank on the merged graph against the oracle on its replay.

    wcc is compared as a partition of the vertices: the package labels a
    component with a vertex id, the oracle with its smallest id."""
    got = got.set_index("id")["comp" if op == "wcc" else "rank"]
    want = want.set_index("id")["comp_oid" if op == "wcc" else "rank"]
    if not b.check(set(got.index) == set(want.index), f"merged {op} vertex set"):
        return
    got = got.reindex(want.index)
    if op == "wcc":
        pairs = pd.DataFrame({"got": got.to_numpy(), "want": want.to_numpy()})
        n = len(pairs.drop_duplicates())
        b.check(n == pairs.got.nunique() == pairs.want.nunique(), "merged wcc")
    else:
        b.check(bool(np.allclose(got.to_numpy(), want.to_numpy(), rtol=0, atol=1e-8)),
                "merged pagerank")


# -- workloads --------------------------------------------------------------
def analytics(b: Bench, seed: int, seconds: float, work: Path) -> dict:
    import reference
    from libgrape_lite_spark.sources.events import events_to_transcripts

    meta = json.loads((EXPECTED / "sf0.01.json").read_text())
    want = pd.read_parquet(EXPECTED / "sf0.01.parquet").set_index("oid")
    k = seed % len(meta["sources"])
    source_oid = meta["sources"][k]

    def read():
        return events_to_transcripts(b.spark, str(EVENTS_DIR))

    b.setup_done()
    rng = np.random.default_rng(seed)
    start = time.perf_counter()
    while True:
        g = b.timed("build", lambda: build_graph(b, read))
        if g is None:
            break
        b.check((g.n_vertices, g.n_edges) == (meta["n_vertices"], meta["n_edges"]), "graph size")
        pass_s = b.samples["build"][-1]
        v, e = collect_graph(g)
        oid_of = v.set_index("id")["oid"]
        source = int(v.loc[v.oid == source_oid, "id"].iloc[0])
        for op in OPS:
            out = b.timed(op, lambda: run_op(b, g, op, source=source))
            if out is not None:
                pass_s += b.samples[op][-1]
                check_analytics(b, op, out.toPandas(), oid_of, want, k)
            release_transients(b)
        delta = make_delta(v, e, rng)
        merged = b.timed("mutation_apply", lambda: mutate_graph(b, g, delta))
        if merged is not None:
            pass_s += b.samples["mutation_apply"][-1]
            want_v, want_e = check_mutation(b, v, e, delta, merged)
            for op in POST_MUTATION_OPS:
                out = b.timed(f"post_{op}", lambda: run_op(b, merged, op, layer="mutation.read"))
                if out is not None:
                    pass_s += b.samples[f"post_{op}"][-1]
                    want = reference.oracle_on_graph(want_v, want_e, op)
                    check_post_mutation(b, op, out.toPandas(), want)
                release_transients(b)
            merged.release()
        g.release()
        release_transients(b)
        b.samples.setdefault("pass", []).append(pass_s)
        if time.perf_counter() - start >= seconds:
            break
    return {"source": source_oid}


def check_analytics(b: Bench, op: str, got: pd.DataFrame, oid_of, want: pd.DataFrame, k: int):
    col = {"pagerank": "rank", "wcc": "comp", "cdlp": "label", "bfs": "depth",
           "sssp": "dist", "lcc": "lcc"}[op]
    if op == "bfs":
        got = got[got.depth < INT64_MAX]
    if op == "sssp":
        got = got[np.isfinite(got.dist)]
    got = got.assign(oid=oid_of.reindex(got.id).to_numpy()).set_index("oid")[col]
    exp = want[f"{op}_{k}" if op in ("bfs", "sssp") else op].dropna()
    if not b.check(set(got.index) == set(exp.index), f"{op} vertex set"):
        return
    got = got.reindex(exp.index)
    if op in ("wcc", "cdlp"):
        b.check(bool((oid_of.reindex(got.to_numpy()).to_numpy() == exp.to_numpy()).all()), op)
    elif op == "bfs":
        b.check(bool((got.to_numpy() == exp.to_numpy()).all()), op)
    else:
        tol = 1e-6 if op == "sssp" else 1e-8
        b.check(bool(np.allclose(got.to_numpy(), exp.to_numpy(), rtol=0, atol=tol)), op)


def ingest(b: Bench, seed: int, seconds: float, work: Path) -> dict:
    import reference
    from libgrape_lite_spark.sources.transcripts import synthesize_transcripts

    path = str(work / "transcripts")
    synthesize_transcripts(b.spark, SYNTH_CONVERSATIONS, seed=seed).write.parquet(path)

    def read():
        return b.spark.read.parquet(path)

    # the first build of a session pays plan compilation; time warm builds
    build_graph(b, read).release()
    release_transients(b)
    b.setup_done()
    turns, want_v, want_e = reference.transcript_graph_counts(path)
    start = time.perf_counter()
    while True:
        g = b.timed("build", lambda: build_graph(b, read))
        if g is None:
            break
        b.check((g.n_vertices, g.n_edges) == (want_v, want_e), "graph size")
        b.samples.setdefault("pass", []).append(b.samples["build"][-1])
        g.release()
        release_transients(b)
        if time.perf_counter() - start >= seconds:
            break
    b.counts["sources.turns"] = turns
    return {"turns": turns, "vertices": want_v, "edges": want_e}


WORKLOADS = {"analytics-sf0.01": analytics, "ingest-synth": ingest}


# -- results ----------------------------------------------------------------
def end_to_end(b: Bench) -> dict:
    def m(value, unit):
        return {"value": value, "unit": unit}

    attempted = max(b.attempted, 1)
    return {
        "setup_s": m(b.setup_s, "s"),
        "build_s": m(b.median("build"), "s"),
        "pass_s": m(b.median("pass"), "s"),
        "storage_mb_peak": m(b.storage_peak_mb, "MB"),
        "ok_share": m((attempted - len(b.failed_calls)) / attempted, "share"),
    }


def per_layer(b: Bench, session_s: float) -> dict:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    spans: dict[str, list] = {}
    for c in b.trace.calls:
        spans.setdefault(c.name, []).append(c)

    def last(name):
        return spans.get(name, [None])[-1]

    def total(names, attr):
        return sum(getattr(c, attr) for n in names for c in spans.get(n, []))

    out = {"session.start_s": (session_s, "s")}
    read = last("sources.read")
    out["sources.read_s"] = (read.wall_s if read else 0.0, "s")
    out["sources.turns"] = (b.counts.get("sources.turns", 0), "count")
    build = last("functions.build")
    out["functions.build_s"] = (build.wall_s, "s")
    out["functions.vertices"] = (b.counts["functions.vertices"], "count")
    out["functions.edges"] = (b.counts["functions.edges"], "count")
    out["functions.shuffle_mb"] = (build.shuffle_write_mb, "MB")
    out["functions.executor_run_s"] = (build.executor_run_s, "s")
    prep = last("plans.prepare")
    out["plans.prepare_s"] = (prep.wall_s, "s")
    out["plans.prepare_jobs"] = (prep.jobs, "count")
    out["plans.pinned_mb"] = (b.counts["plans.pinned_mb"], "MB")
    for op in SUPERSTEP_OPS:
        n, p50, top = superstep_stats(
            b.iterations.get(f"operators.{op}") if op in b.samples else None)
        key = f"plans.superstep.{op}"
        out[f"{key}.supersteps"] = (n, "count")
        out[f"{key}.superstep_ms_p50"] = (p50, "ms")
        out[f"{key}.superstep_ms_max"] = (top, "ms")
    for op in OPS:
        c = last(f"operators.{op}") if op in b.samples else None
        vals = dict.fromkeys(OP_LAYER_UNITS, 0.0)
        if c:
            vals.update(wall_s=c.wall_s, jobs=c.jobs, stages=c.stages, tasks=c.tasks,
                        executor_run_s=c.executor_run_s, executor_cpu_s=c.executor_cpu_s,
                        gc_s=c.gc_s, shuffle_mb=c.shuffle_write_mb, spill_mb=c.spill_mb,
                        core_busy_share=c.core_busy_share(CORES))
        for key, val in vals.items():
            out[f"operators.{op}.{key}"] = (val, OP_LAYER_UNITS[key])
    apply_, reprep = last("mutation.apply"), last("mutation.reprepare")
    mut = ("mutation.apply", "mutation.reprepare")
    out["mutation.apply_s"] = (apply_.wall_s if apply_ else 0.0, "s")
    out["mutation.jobs"] = (total(mut, "jobs"), "count")
    out["mutation.shuffle_mb"] = (total(mut, "shuffle_write_mb"), "MB")
    out["mutation.reprepare_s"] = (reprep.wall_s if reprep else 0.0, "s")
    reads = [f"mutation.read.{op}" for op in POST_MUTATION_OPS]
    out["mutation.read_s"] = (sum(last(n).wall_s for n in reads if n in spans), "s")
    out["mutation.read_jobs"] = (sum(last(n).jobs for n in reads if n in spans), "count")
    out["transients.persistent_rdds"] = (max(r for r, _ in b.after_release), "count")
    out["transients.storage_mb"] = (max(s for _, s in b.after_release), "MB")
    out["trace.collect_s"] = (sum(c.collect_s for c in b.trace.calls), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def expected_metrics(trace: bool) -> set[str]:
    """The metric names BENCHMARK.json asks a run of this kind to print."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF) and
    wait for it; Spark stops its Python workers as it shuts down."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except Exception:
        jvm.kill()
        jvm.wait()


def on_timeout(*_):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "libgrape_lite_spark" / "__init__.py").is_file():
        log(f"no libgrape_lite_spark package under {ROOT}")
        return 2
    signal.signal(signal.SIGALRM, on_timeout)
    signal.alarm(RUN_LIMIT_S)
    work = ROOT / ".bench_build" / "perfbench" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.update(PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
                      SPARK_LOCAL_DIRS=str(work / "spark"), TMPDIR=str(work / "tmp"))
    sys.path.insert(0, str(ROOT))
    from libgrape_lite_spark import get_spark

    spark = None
    try:
        t_session = time.time()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.local.dir": str(work / "spark"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.time() - t_session
        b = Bench(spark, process_start(), bool(args.trace))
        info = WORKLOADS[args.workload](b, args.seed, args.seconds, work)
        log("detail " + json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace, **info,
            "samples": b.samples, "failed_calls": sorted(b.failed_calls),
            "after_release": b.after_release,
            "calls": [vars(c) for c in b.trace.calls] if b.trace else [],
        }))
        metrics = per_layer(b, session_s) if args.trace else end_to_end(b)
        missing = expected_metrics(bool(args.trace)) - set(metrics)
        if missing:
            log(f"no value for {sorted(missing)}: a call failed before it was measured")
            return 1
        ok = b.attempted > 0 and not b.failed_calls
        result = {"correct": ok, "attempted": b.attempted,
                  "failed": len(b.failed_calls), "metrics": metrics}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
