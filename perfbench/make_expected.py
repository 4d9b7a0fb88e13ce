"""Regenerate the committed expected outputs of the analytics workload.

The expected values come from the DuckDB oracle SQL in
``__spark_entry__.oracle_sql()`` (the same text the correctness gate runs),
evaluated over the benchmark's own copy of the events table. Nothing here
touches Spark. Run from the repository root:

    python3 perfbench/make_expected.py

It writes ``perfbench/expected/sf0.01.parquet`` (one row per vertex oid:
pagerank, wcc, cdlp, lcc, and bfs/sssp from each candidate source) and
``perfbench/expected/sf0.01.json`` (graph counts and the candidate source
oids, all inside the largest component).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SF_DIR = HERE / "data" / "sf0.01"
OUT = HERE / "expected"
N_SOURCES = 8


def main() -> int:
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR / 'events.parquet'}'")

    def run(name: str, query: str | None = None) -> pd.DataFrame:
        return con.execute(query or sql[name]).df()

    counts = con.execute(
        f"WITH {entry._EDGES} SELECT (SELECT COUNT(*) FROM vertices), (SELECT COUNT(*) FROM edges)"
    ).fetchone()
    out = run("pagerank").rename(columns={"rank": "pagerank"})
    out = out.merge(run("wcc").rename(columns={"comp_oid": "wcc"}), on="oid")
    out = out.merge(run("cdlp").rename(columns={"label_oid": "cdlp"}), on="oid")
    out = out.merge(run("lcc"), on="oid")

    # candidate BFS/SSSP sources: evenly spaced (by oid) over the largest
    # component, so every candidate reaches the same vertex set
    largest = out["wcc"].value_counts().idxmax()
    members = sorted(out.loc[out["wcc"] == largest, "oid"])
    step = len(members) // N_SOURCES
    sources = [members[i * step] for i in range(N_SOURCES)]
    quoted = f"'{entry.SOURCE_OID}'"
    for k, src in enumerate(sources):
        bfs = run("bfs", sql["bfs"].replace(quoted, f"'{src}'"))
        sssp = run("sssp", sql["sssp"].replace(quoted, f"'{src}'"))
        out = out.merge(bfs.rename(columns={"depth": f"bfs_{k}"}), on="oid", how="left")
        out = out.merge(sssp.rename(columns={"dist": f"sssp_{k}"}), on="oid", how="left")

    OUT.mkdir(exist_ok=True)
    out.sort_values("oid").to_parquet(OUT / "sf0.01.parquet", index=False, compression="zstd")
    meta = {
        "n_vertices": int(counts[0]),
        "n_edges": int(counts[1]),
        "largest_component": largest,
        "largest_component_size": len(members),
        "sources": sources,
    }
    (OUT / "sf0.01.json").write_text(json.dumps(meta, indent=1) + "\n")
    print(json.dumps(meta))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
