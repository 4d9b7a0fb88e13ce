"""Independent reference results the benchmark checks Spark's outputs against.

Nothing here runs Spark or the package: a pandas replay of a mutation
delta, the DuckDB oracle SQL of ``__spark_entry__.oracle_sql()`` run over
a graph given as pandas frames, and DuckDB counts of the graph a
transcripts parquet yields.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent


def apply_delta(vertices: pd.DataFrame, edges: pd.DataFrame, delta: pd.DataFrame):
    """``mutation.mutate`` semantics on pandas frames.

    Vertices: ``delv`` first, then ``addv`` upserts and ``updv`` replaces
    existing rows' ``oid``. Edges: ``delv`` drops incident edges, ``del``
    drops every copy of its exact (src, dst), ``upd`` rewrites the weight,
    ``add`` appends.
    """
    gone = set(delta.loc[delta.op == "delv", "id"])
    v = vertices[~vertices.id.isin(gone)].set_index("id")["oid"].to_dict()
    for row in delta[delta.op.isin(["addv", "updv"])].itertuples():
        if row.op == "addv" or row.id in v:
            v[row.id] = row.oid
    dels = set(zip(delta.loc[delta.op == "del", "src"], delta.loc[delta.op == "del", "dst"]))
    upds = {(r.src, r.dst): r.weight for r in delta[delta.op == "upd"].itertuples()}
    keep = ~(edges.src.isin(gone) | edges.dst.isin(gone)).to_numpy()
    keep &= np.array([p not in dels for p in zip(edges.src, edges.dst)], dtype=bool)
    e = edges.loc[keep, ["src", "dst", "weight"]].copy()
    e["weight"] = [upds.get(p, w) for p, w in zip(zip(e.src, e.dst), e.weight)]
    adds = delta.loc[delta.op == "add", ["src", "dst", "weight"]]
    e = pd.concat([e, adds], ignore_index=True).astype({"src": "int64", "dst": "int64"})
    return pd.DataFrame({"id": list(v), "oid": list(v.values())}), e


# The relations the oracle SQL reads, over frames instead of the events
# table: vertex ids stand in for oids.
_GRAPH_RELATIONS = """
vertices AS MATERIALIZED (SELECT id AS oid FROM graph_v),
edges AS MATERIALIZED (SELECT src AS src_oid, dst AS dst_oid, weight FROM graph_e),
uedges AS MATERIALIZED (
  SELECT src_oid AS s, dst_oid AS d, weight AS w FROM edges
  UNION ALL
  SELECT dst_oid, src_oid, weight FROM edges)"""


def oracle_on_graph(vertices: pd.DataFrame, edges: pd.DataFrame, query: str) -> pd.DataFrame:
    """One oracle query (``wcc``, ``pagerank``, ...) over (id) vertices and
    (src, dst, weight) edges. Returns ``id`` and the query's value column."""
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry

    sql = entry.oracle_sql()[query].replace(entry._EDGES, _GRAPH_RELATIONS, 1)
    with duckdb.connect() as con:
        con.register("graph_v", vertices[["id"]])
        con.register("graph_e", edges[["src", "dst", "weight"]])
        out = con.execute(sql).df()
    return out.rename(columns={"oid": "id"})


# The derivation rules of functions/edges.py written as SQL over a
# transcripts parquet: reply, tool-invocation and role-transition edges;
# vertices are all endpoints plus every turn.
_GRAPH_COUNTS = """
WITH t AS (
  SELECT conv_id, turn_idx, role, tool,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM read_parquet('{path}/*.parquet')),
edges AS (
  SELECT conv_id || ':' || CAST(turn_idx - 1 AS VARCHAR) AS s,
         conv_id || ':' || CAST(turn_idx AS VARCHAR) AS d
  FROM t WHERE turn_idx > 0
  UNION ALL
  SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR), 'tool::' || tool
  FROM t WHERE tool IS NOT NULL
  UNION ALL
  SELECT DISTINCT 'role::' || conv_id || '::' || prev_role, 'role::' || conv_id || '::' || role
  FROM t WHERE prev_role IS NOT NULL AND prev_role <> role),
vertices AS (
  SELECT s AS oid FROM edges UNION SELECT d FROM edges
  UNION SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) FROM t)
SELECT (SELECT COUNT(*) FROM t), (SELECT COUNT(*) FROM vertices), (SELECT COUNT(*) FROM edges)
"""


def transcript_graph_counts(parquet_dir: str) -> tuple[int, int, int]:
    """(turns, vertices, edges) of the graph built from a transcripts parquet."""
    with duckdb.connect() as con:
        turns, nv, ne = con.execute(_GRAPH_COUNTS.format(path=parquet_dir)).fetchone()
    return int(turns), int(nv), int(ne)
