"""The benchmark's own tests. They start Spark, so they are not part of the
repository's test suite; run them with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import reference  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from make_base import TABLES  # noqa: E402
from workloads import LAYER_EXPECTATIONS, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    DECLARED = json.load(fh)


def _smoke(workload: str, trace: int) -> dict:
    from bigdatafraude_ml_graphx_spark.catalog import DEFAULT_SF_DIR

    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace),
         "--base", DEFAULT_SF_DIR],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_prints_every_declared_metric_with_its_unit(workload, trace, section):
    result = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    printed = {name: m["unit"] for name, m in result["metrics"].items()}
    declared = {m["name"]: m["unit"] for m in DECLARED[section]}
    assert printed == declared
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))


def test_declaration_matches_the_code():
    assert set(DECLARED) == {"command", "paths", "run_seconds", "workloads",
                             "end_to_end", "per_layer"}
    assert {w["name"]: w["why"] for w in DECLARED["workloads"]} == {
        name: w.why for name, w in WORKLOADS.items()}
    assert sorted(m["name"] for m in DECLARED["end_to_end"]) == sorted(run.END_TO_END)
    for m in DECLARED["end_to_end"] + DECLARED["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m
    mapped = [name for names, _, _ in LAYER_EXPECTATIONS for name in names]
    assert sorted(mapped) == sorted(m["name"] for m in DECLARED["per_layer"])
    e2e = {m["name"] for m in DECLARED["end_to_end"]}
    for _, moves, _ in LAYER_EXPECTATIONS:
        assert set(moves) <= e2e
    empty = spans.layer_metrics([], {}, {}, passes=1, cores=4)
    assert sorted(empty) == sorted(mapped)


def _span(spans_, name, start, end, parent=None):
    s = spans.Span(len(spans_), name, parent, "0:op", start, end)
    spans_.append(s)
    if parent is not None:
        spans_[parent].children.append(s.id)
    return s


def test_self_time_subtracts_the_union_of_children():
    tree: list = []
    build = _span(tree, "registry.build", 0.0, 10.0)
    labels = _span(tree, "dedup.labels", 1.0, 3.0, parent=build.id)
    _span(tree, "dedup.pairs", 2.0, 5.0, parent=build.id)  # overlaps labels
    _span(tree, "sources.write", 8.0, 12.0, parent=build.id)  # clipped at 10
    cc = _span(tree, "graph.cc", 1.5, 2.5, parent=labels.id)  # grandchild
    assert spans.self_time(tree, build) == pytest.approx(10 - 4 - 2)
    assert spans.self_time(tree, labels) == pytest.approx(2 - 1)
    assert spans.self_time(tree, cc) == pytest.approx(1)

    counters = {build.id: dict.fromkeys(spans._COUNTERS, 0),
                labels.id: dict.fromkeys(spans._COUNTERS, 0),
                cc.id: dict.fromkeys(spans._COUNTERS, 0)}
    counters[build.id]["jobs"] = 1
    counters[labels.id]["jobs"] = 2
    counters[cc.id]["jobs"] = 4
    counters[cc.id]["task_run_ms"] = 6000
    intervals = {cc.id: [(1.5, 2.5)]}
    got = spans.layer_metrics(tree, counters, intervals, passes=2, cores=3)
    assert got["registry.build_s"] == pytest.approx(4 / 2)
    assert got["registry.build_jobs"] == 7 / 2  # _jobs include the children
    assert got["dedup.labels_s"] == pytest.approx(1 / 2)
    assert got["dedup.labels_jobs"] == 6 / 2
    assert got["graph.cc_jobs"] == 4 / 2
    assert got["spark.jobs"] == 7 / 2
    assert got["spark.no_task_s"] == pytest.approx(9 / 2)
    assert got["spark.core_busy_ratio"] == pytest.approx(6 / (10 * 3))


def test_check_rejects_a_planted_wrong_result():
    expected = pd.DataFrame({"id": [1, 2, 3], "component": [1, 1, 3], "w": [0.5, 0.25, 1.0]})
    shuffled = expected.iloc[[2, 0, 1]][["w", "component", "id"]]
    assert reference.mismatch(shuffled, expected) is None
    wrong_value = expected.copy()
    wrong_value.loc[1, "component"] = 2
    assert reference.mismatch(wrong_value, expected)
    wrong_float = expected.copy()
    wrong_float.loc[0, "w"] = 0.5000000001
    assert reference.mismatch(wrong_float, expected)
    assert reference.mismatch(expected.iloc[:2], expected)
    assert reference.mismatch(expected.rename(columns={"w": "weight"}), expected)


@pytest.mark.parametrize("op", sorted(reference.CLOSURES))
def test_closed_oracle_equals_the_recursive_oracle(op):
    from bigdatafraude_ml_graphx_spark import registry
    from bigdatafraude_ml_graphx_spark.catalog import DEFAULT_SF_DIR

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DEFAULT_SF_DIR, t)}.parquet')")
    closed = reference.oracle_frame(con, registry.ORACLE[op], op)
    recursive = con.execute(registry.ORACLE[op]).df()
    assert len(closed) > 0
    assert reference.mismatch(closed, recursive) is None


def test_install_wraps_every_binding_and_fails_loudly(monkeypatch):
    from bigdatafraude_ml_graphx_spark import queries_graph
    from bigdatafraude_ml_graphx_spark.graph import components

    tracer = spans.Tracer()
    try:
        assert spans.install(tracer) > len(spans.LAYER_FUNCTIONS)
        assert queries_graph.connected_components is components.connected_components
        assert hasattr(queries_graph.connected_components, "__perfbench_wrapped__")
    finally:
        for mod in list(sys.modules.values()):
            if mod is None or not mod.__name__.startswith(spans.PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if hasattr(value, "__perfbench_wrapped__"):
                    setattr(mod, attr, value.__perfbench_wrapped__)
    monkeypatch.setitem(spans.LAYER_FUNCTIONS, "graph.cc",
                        [("graph.components", "no_such_function")])
    with pytest.raises(RuntimeError, match="no_such_function"):
        spans.install(tracer)


def test_tail_is_the_highest_percentile_with_ten_samples_above():
    values = [float(i) for i in range(1, 41)]  # 40 samples
    pct, value = run.tail(values)
    assert pct == 75 and value == 30.0
    assert sum(v > value for v in values) == 10
    assert run.tail([3.0, 1.0, 2.0]) == (100, 3.0)
    assert run.tail([float(i) for i in range(19)]) == (100, 18.0)


def test_propagation_rounds_counts_label_changing_rounds():
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]  # label 1 needs 4 hops to reach 5
    assert reference.propagation_rounds(path) == 4
    assert reference.propagation_rounds([(3, 1), (2, 1)]) == 1
    assert reference.propagation_rounds([]) == 0
