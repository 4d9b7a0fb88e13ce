"""Run one workload on several seeds; keep every result; print the spreads.

    python3 perfbench/repeat.py --workload analytics-sf0.01 --seeds 1-10 \\
        --out perfbench/runs/analytics-sf0.01.set1.json

Run from the repository root. Each seed is one ``run.py`` invocation, one
after another. The output file holds, per run, the seed, the wall time of
the whole invocation, the load average, the result line and the per-call
detail the run logged. For each metric the summary prints the median and
the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, the
figure a metric's ``bound`` in BENCHMARK.json is judged against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
DETAIL = "[perfbench] detail "


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in text.split(",")]


def summary(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "spread": (q3 - q1) / med if med else 0.0}
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="a range 1-10 or a list 1,5,9")
    p.add_argument("--seconds", default="12")
    p.add_argument("--trace", default="0")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    runs = []
    for seed in seed_list(args.seeds):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.time() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            return 1
        detail = [ln for ln in proc.stderr.splitlines() if ln.startswith(DETAIL)]
        runs.append({
            "seed": seed,
            "wall_s": wall,
            "loadavg_1m": os.getloadavg()[0],
            "result": json.loads(proc.stdout.strip().splitlines()[-1]),
            "detail": json.loads(detail[-1][len(DETAIL):]) if detail else None,
        })
        print(f"seed {seed}: {wall:.1f}s correct={runs[-1]['result']['correct']}", flush=True)
    record = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
              "summary": summary(runs), "runs": runs}
    Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    for name, s in record["summary"].items():
        print(f"{name:28s} median {s['median']:.6g}  spread {s['spread']:.4f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
