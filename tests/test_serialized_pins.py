"""Every table the graph engine pins is stored serialized, through one
primitive (``transients.pin``), and two small engine frames are planned
without a Python RDD."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from tests.conftest import make_edges, make_vertices

PKG = Path(__file__).resolve().parent.parent / "libgrape_lite_spark"

# the graph-engine sources whose pins must all go through transients.pin
ENGINE_SOURCES = [
    PKG / "functions" / "edges.py",
    *sorted((PKG / "plans").glob("*.py")),
    *(PKG / "operators" / f"{op}.py" for op in ("pagerank", "wcc", "cdlp", "bfs", "sssp", "lcc")),
    PKG / "mutation.py",
]


def _local_checkpoint_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "localCheckpoint"
    ]


def _persistent_rdds(spark) -> dict[int, object]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): jmap.get(k) for k in jmap.keySet().toArray()}


def test_every_engine_pin_is_serialized(spark):
    """prepare_graph, the six operators, a mixed mutation and a vertex
    program leave only serialized persistent RDDs behind."""
    from libgrape_lite_spark import transients
    from libgrape_lite_spark.mutation import mutate
    from libgrape_lite_spark.operators import bfs, cdlp, lcc, pagerank, sssp, wcc
    from libgrape_lite_spark.plans.kernels import invalidate_prepared, prepare_graph
    from libgrape_lite_spark.plans.vertex_program import run_vertex_program, wcc_program

    before = set(_persistent_rdds(spark))
    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 6), (6, 7), (1, 2, 3.0)]
    v = make_vertices(spark, range(9))
    e = make_edges(spark, pairs)
    v, e = v.localCheckpoint(eager=True), e.localCheckpoint(eager=True)
    own = set(_persistent_rdds(spark)) - before  # the test's own pins

    prepare_graph(v, e, num_fragments=2)
    prepare_graph(v, e, num_fragments=2, directed=True)
    for result in (
        pagerank(v, e, max_rounds=3),
        wcc(v, e),
        cdlp(v, e, max_rounds=3),
        bfs(v, e, source=0),
        sssp(v, e, source=0),
        sssp(v, e, source=0, directed=True),
        lcc(v, e),
    ):
        result.collect()
    delta = spark.createDataFrame(
        [
            ("add", 4, 5, 2.0, None),
            ("del", 5, 6, None, None),
            ("upd", 0, 1, 0.5, None),
            ("delv", None, None, None, 7),
            ("addv", None, None, None, 9),
        ],
        "op string, src long, dst long, weight double, id long",
    )
    v2, e2 = mutate(v, e, delta)
    wcc(v2, e2).collect()
    pagerank(v2, e2, max_rounds=3).collect()
    run_vertex_program(v, e, wcc_program()).collect()

    made = {
        rid: rdd for rid, rdd in _persistent_rdds(spark).items() if rid not in before | own
    }
    try:
        assert made, "the engine pinned nothing — the scan would prove nothing"
        deserialized = {
            rid: rdd.getStorageLevel().toString()
            for rid, rdd in made.items()
            if rdd.getStorageLevel().deserialized()
        }
        assert deserialized == {}
    finally:
        transients.release_transients()
        for edges in (e, e2):
            invalidate_prepared(edges)


def test_iteration_driver_has_no_storage_knob(spark):
    from pyspark.storagelevel import StorageLevel

    from libgrape_lite_spark.plans.superstep import IterationDriver

    with pytest.raises(TypeError):
        IterationDriver(spark, storage_level=StorageLevel.MEMORY_ONLY)


def test_pin_is_the_only_local_checkpoint_in_the_engine():
    for path in ENGINE_SOURCES:
        calls = _local_checkpoint_calls(ast.parse(path.read_text()))
        assert calls == [], f"{path.relative_to(PKG)}:{calls[0].lineno} bypasses pin"
    tree = ast.parse((PKG / "transients.py").read_text())
    pin = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "pin")
    assert len(_local_checkpoint_calls(pin)) == 1


def test_encode_vertices_plan_has_no_join(spark):
    from libgrape_lite_spark.functions.ids import encode_vertices

    oids = spark.createDataFrame([(f"v{i:03d}",) for i in range(50)], "oid string")
    out = encode_vertices(oids, num_partitions=3)
    qe = out._jdf.queryExecution()
    for plan in (qe.optimizedPlan().toString(), qe.executedPlan().toString()):
        assert "Join" not in plan
        assert "Broadcast" not in plan
    assert sorted(r["id"] for r in out.collect()) == list(range(50))


def test_source_state_scans_a_range(spark):
    from libgrape_lite_spark.operators.sssp import _source_state

    state = _source_state(spark, 7)
    plan = state._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" in plan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert [tuple(r) for r in state.collect()] == [(7, 0.0, True)]
    assert state.schema.simpleString() == "struct<id:bigint,dist:double,improved:boolean>"
