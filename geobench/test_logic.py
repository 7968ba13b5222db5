"""Logic tests for the benchmark's own code; no Spark is started.

Run from the checkout root: ``python3 -m pytest geobench -q``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from geobench import gen, oracle, trace
from geobench.metrics import RunLedger, parse_sql_metric, ratio, summarize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,000", 1000.0),
        ("8", 8.0),
        ("0.0 B", 0.0),
        ("616.3 KiB", 616.3 * 1024),
        ("11.0 MiB", 11.0 * 2**20),
        ("1.5 GiB", 1.5 * 2**30),
        ("0 ms", 0.0),
        ("57 ms", 0.057),
        ("1.2 s", 1.2),
        ("1.5 m", 90.0),
        ("2.0 min", 120.0),
        ("0.50 h", 1800.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1.5 m (22.2 s, 23.2 s, 23.3 s (stage 40.0: task 72))",
            90.0,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "523.2 MiB (130.4 MiB, 130.9 MiB, 131.2 MiB (stage 40.0: task 73))",
            523.2 * 2**20,
        ),
        ("total (min, med, max (stageId: taskId))\n1,234 (1, 2, 3 (stage 1.0: task 2))", 1234.0),
        ("(min, med, max (stageId: taskId)):\n(1, 1.5, 2 (stage 66.0: task 122))", 1.5),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "12 parsecs", "total (min, med, max)"])
def test_parse_sql_metric_rejects_unknown_forms(text):
    with pytest.raises(ValueError):
        parse_sql_metric(text)


def test_summarize_reports_median_quartiles_and_count():
    s = summarize([5.0, 1.0, 3.0, 2.0, 4.0])
    assert (s["median"], s["n"]) == (3.0, 5)
    assert s["q1"] <= s["median"] <= s["q3"]
    assert summarize([2.5]) == {"median": 2.5, "q1": 2.5, "q3": 2.5, "n": 1}
    assert summarize([1.0, 2.0])["median"] == 1.5
    with pytest.raises(ValueError):
        summarize([])


def test_ledger_counts_failed_runs_against_attempted():
    led = RunLedger()
    assert led.fail_frac == 0.0
    assert led.record([]) is True
    assert led.record(["pip: region 3 got (1, a) expected (2, a)"]) is False
    assert led.record([]) is True
    assert led.record(["timed out after 60 s", "x"]) is False
    assert (led.attempted, led.failed) == (4, 2)
    assert led.fail_frac == 0.5


def test_ratio_keeps_its_base():
    assert ratio(3, 4) == {"value": 0.75, "num": 3, "base": 4}
    assert ratio(5, 0) == {"value": 0.0, "num": 5, "base": 0}


def _node(nid, name, metrics=None, children=()):
    return {"id": nid, "name": name, "metrics": metrics or {}, "children": list(children)}


def test_operator_helpers_on_a_plan_graph():
    # refine (MapInPandas over a join) and decode (MapInPandas over a scan)
    nodes = [
        _node(1, "MapInPandas", {trace.PY_RUN: 2.0, trace.ROWS: 40.0}, [2]),
        _node(2, "Project", {}, [3]),
        _node(3, "BroadcastHashJoin", {trace.ROWS: 100.0}, [4]),
        _node(4, "MapInPandas", {trace.PY_RUN: 0.5, trace.ROWS: 10.0}, [5]),
        _node(5, "Scan parquet", {"scan time": 0.1}, []),
    ]
    by_id = {n["id"]: n for n in nodes}
    for n in nodes:
        n["below"] = sorted(trace._below(by_id, n["id"]))
    execution = {"id": 7, "desc": "w:sink", "write_path": None, "nodes": nodes}
    py = trace.python_nodes([execution])
    assert [n["id"] for n in py] == [1, 4]
    assert [trace.has_join_below(n) for n in py] == [True, False]
    assert trace.input_rows(execution, nodes[0]) == 100.0
    assert trace.python_layer([nodes[0]], "geom")["geom.py_rows"] == 40.0
    assert trace.by_desc([execution], "w", "sink") == [execution]


def test_generator_is_seeded():
    a, b = gen.pages(3, 50), gen.pages(3, 50)
    assert a.equals(b)
    assert not a.equals(gen.pages(4, 50))
    docs, groups = gen.documents(3, 400)
    assert docs.equals(gen.documents(3, 400)[0])
    ids = docs.column("doc_id").to_pylist()
    assert len(set(ids)) == len(ids)
    text = dict(zip(ids, docs.column("text").to_pylist()))
    assert groups
    for g in groups:
        assert len(g) > 1 and len({text[i] for i in g}) == 1
        # same marker in webpages_from_documents: congruent mod its period
        assert len({i % gen.MARKER_PERIOD for i in g}) == 1


def test_pipeline_reference_sees_the_planted_duplicates(tmp_path):
    docs, groups = gen.documents(3, 400)
    path = str(tmp_path / "documents.parquet")
    gen.write_multi(docs, path)
    ref = oracle.pipeline_reference(path, str(tmp_path))
    dropped = sum(len(g) - 1 for g in groups)
    assert ref["distinct_texts"] == 400 - dropped
    assert ref["keepers"] == sorted(set(docs.column("doc_id").to_pylist()) - {
        i for g in groups for i in g if i != min(g)
    })
    assert oracle.check_pipeline(ref["distinct_texts"], ref["keepers"], ["resume_hit"] * 2, ref) == []
    bad = oracle.check_pipeline(ref["distinct_texts"], ref["keepers"] + [10**9], ["resume_hit"] * 2, ref)
    assert len(bad) == 1 and "keeper" in bad[0]
    # a run without a re-invocation is checked on its cold outputs alone
    assert oracle.check_pipeline(ref["distinct_texts"], ref["keepers"], None, ref) == []
    bad = oracle.check_pipeline(ref["distinct_texts"], ref["keepers"], ["resume_hit"], ref)
    assert len(bad) == 1 and "resume_hit" in bad[0]


def test_require_raises_on_a_missing_layer():
    assert trace.require([1], "x") == [1]
    with pytest.raises(RuntimeError, match="found no refine node"):
        trace.require([], "refine node")


def test_star_polygons_and_holes_under_even_odd():
    for rings in gen.star_rings(5, 10):
        outer = rings[0]
        assert 16 <= len(outer) <= 48
        cx, cy = outer.mean(axis=0)
        inside = oracle.even_odd(np.array([cx]), np.array([cy]), rings)[0]
        # the centre lies in the hole exactly when there is one
        assert inside == (len(rings) == 1)


def test_knn_reference_breaks_ties_by_rid():
    dx = np.array([1.0, -1.0, 0.0, 0.0, 5.0])
    dy = np.array([0.0, 0.0, 1.0, -1.0, 5.0])
    ref = oracle.knn_reference([0], np.array([0.0]), np.array([0.0]), dx, dy, 3)
    assert ref["0"]["rid"] == [0, 1, 2]
    assert ref["0"]["dist"] == [1.0, 1.0, 1.0]


def test_benchmark_json_matches_the_runner():
    from geobench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    from geobench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
