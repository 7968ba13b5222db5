"""Traced runs: spans around library calls and Spark's own status stores.

Spans are recorded from the benchmark's side of each library call, and the
call's name is set as the Spark job description (``<workload>:<call>``) so
every job, stage and SQL execution it starts carries it. After a traced
run, :meth:`StatusReader.since` reads what that run added to

- the stage store, ``sc._jsc.sc().statusStore()`` (run, CPU and GC time,
  shuffle and spill bytes, task counts per stage), and
- the SQL store, ``spark._jsparkSession.sharedState().statusStore()``
  (operator metrics per plan node, as formatted strings parsed by
  :func:`metrics.parse_sql_metric`).

Both stores are filled by listeners whether or not a run is traced, and
with ``spark.ui.enabled=false``; their collections are Scala ``Seq``s,
read with ``size()``/``apply(i)``.
"""

from __future__ import annotations

import os
import re
import sys
import time
from contextlib import contextmanager

from geobench.metrics import parse_sql_metric, ratio

PY_RUN = "time to run Python workers"
PY_INIT = ("time to initialize Python workers", "time to start Python workers")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
ROWS = "number of output rows"
MiB = 2.0**20
#: the output path in the write command's block of the formatted plan
_WRITE = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: (\S+?),")


class Tracer:
    """Spans and job descriptions around one workload's library calls.

    It records only while ``enabled`` is set; otherwise it does nothing, so
    untraced runs pay no tracing cost."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = False
        self.run = 0
        self.spans: list[dict] = []

    @contextmanager
    def call(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobDescription(f"{self.workload}:{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setJobDescription(None)
            self.spans.append(
                {"run": self.run, "name": name, "parent": "run", "start": t0, "end": t1, "s": t1 - t0}
            )

    def probe_broadcasts(self) -> None:
        """Record each Python broadcast (e.g. a kNN index shipped to the
        workers) as a ``spark.broadcast`` span with its pickled size."""
        plain = self.sc.broadcast

        def broadcast(value):
            t0 = time.perf_counter()
            bc = plain(value)
            t1 = time.perf_counter()
            if self.enabled:
                path = getattr(bc, "_path", None)
                size = os.path.getsize(path) if path and os.path.exists(path) else 0
                self.spans.append(
                    {"run": self.run, "name": "spark.broadcast", "parent": "run",
                     "start": t0, "end": t1, "s": t1 - t0, "bytes": size}
                )
            return bc

        self.sc.broadcast = broadcast

    def span_s(self, name: str) -> float:
        return sum(s["s"] for s in self.spans if s["run"] == self.run and s["name"] == name)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class StatusReader:
    """Reads the jobs, stages and SQL executions added since a mark."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _store(self):
        return self.jsc.statusStore()

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _empty_list(self):
        return self.jvm.java.util.ArrayList()

    def mark(self) -> tuple[int, int, int]:
        """(max job id, max stage id, max execution id) seen so far."""
        self._drain()
        jobs = [j.jobId() for j in _seq(self._store().jobsList(self._empty_list()))]
        stages = [s["id"] for s in self._stages(-1)]
        execs = [e.executionId() for e in _seq(self._sql().executionsList())]
        return max(jobs, default=-1), max(stages, default=-1), max(execs, default=-1)

    def _stages(self, after: int) -> list[dict]:
        gw = self.spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 0)
        out = []
        for s in _seq(
            self._store().stageList(self._empty_list(), False, False, quantiles, self._empty_list())
        ):
            if s.stageId() <= after or s.status().toString() != "COMPLETE":
                continue
            out.append(
                {
                    "id": s.stageId(),
                    "attempt": s.attemptId(),
                    "desc": _opt(s.description()),
                    "tasks": s.numCompleteTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_b": s.inputBytes(),
                    "shuffle_read_b": s.shuffleReadBytes(),
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "spill_b": s.diskBytesSpilled(),
                }
            )
        return out

    def _task_skew(self, stages: list[dict]) -> dict:
        """max / median task run time in the stage with the most run time."""
        if not stages:
            return ratio(0.0, 0.0)
        top = max(stages, key=lambda s: s["run_s"])
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = _opt(self._store().taskSummary(top["id"], top["attempt"], q))
        if dist is None:
            return ratio(0.0, 0.0)
        run = dist.executorRunTime()
        return ratio(run.apply(1), run.apply(0))

    def _execution(self, e) -> dict:
        sql = self._sql()
        eid = e.executionId()
        values = sql.executionMetrics(eid)
        graph = sql.planGraph(eid)
        nodes = {}
        for n in _seq(graph.allNodes()):
            ms = {}
            for m in _seq(n.metrics()):
                v = _opt(values.get(m.accumulatorId()))
                try:
                    if v is not None:
                        ms[m.name()] = parse_sql_metric(v)
                except ValueError as e:  # a metric form this reader does not know
                    print(f"geobench: skipped {n.name()}.{m.name()}: {e}", file=sys.stderr)
            nodes[n.id()] = {"id": n.id(), "name": n.name().strip(), "metrics": ms, "children": []}
        for edge in _seq(graph.edges()):  # fromId is the child, toId the parent
            if edge.toId() in nodes:
                nodes[edge.toId()]["children"].append(edge.fromId())
        for node in nodes.values():
            node["below"] = sorted(_below(nodes, node["id"]))
        m = _WRITE.search(e.physicalPlanDescription() or "")
        return {
            "id": eid,
            "desc": e.description(),
            "write_path": m.group(1) if m else None,
            "nodes": list(nodes.values()),
        }

    def since(self, mark: tuple[int, int, int]) -> dict:
        """Everything the cluster recorded after ``mark``."""
        self._drain()
        job_after, stage_after, exec_after = mark
        jobs = [
            {"id": j.jobId(), "desc": _opt(j.description())}
            for j in _seq(self._store().jobsList(self._empty_list()))
            if j.jobId() > job_after
        ]
        stages = self._stages(stage_after)
        execs = [
            self._execution(e)
            for e in _seq(self._sql().executionsList())
            if e.executionId() > exec_after
        ]
        return {"jobs": jobs, "stages": stages, "execs": execs, "skew": self._task_skew(stages)}


def _below(nodes: dict, nid: int) -> set[str]:
    out: set[str] = set()
    todo = list(nodes[nid]["children"])
    while todo:
        c = todo.pop()
        if c in nodes:
            out.add(nodes[c]["name"])
            todo.extend(nodes[c]["children"])
    return out


# ---------------------------------------------------------------------------
# aggregation over one run's records (pure)


def require(items: list, what: str) -> list:
    """``items`` when there are any. A traced run that finds no plan node
    or write for a layer its workload must exercise raises instead of
    reporting 0, so a change in Spark's plan format cannot pass for a
    real result."""
    if not items:
        raise RuntimeError(f"trace: found no {what}; the plan or metric format may have changed")
    return items


def python_nodes(execs: list[dict]) -> list[dict]:
    return [n for e in execs for n in e["nodes"] if PY_RUN in n["metrics"]]


def total(nodes: list[dict], name: str) -> float:
    return sum(n["metrics"].get(name, 0.0) for n in nodes)


def has_join_below(node: dict) -> bool:
    return any("Join" in name for name in node["below"])


def input_rows(execution: dict, node: dict) -> float:
    """Rows entering ``node``: the output rows of the nearest node below it
    in its execution that counts them (projections keep the count)."""
    by_id = {n["id"]: n for n in execution["nodes"]}
    todo = list(node["children"])
    while todo:
        c = by_id.get(todo.pop(0))
        if c is None:
            continue
        if ROWS in c["metrics"]:
            return c["metrics"][ROWS]
        todo.extend(c["children"])
    return 0.0


def python_layer(nodes: list[dict], prefix: str) -> dict[str, float]:
    return {
        f"{prefix}.py_run_s": total(nodes, PY_RUN),
        f"{prefix}.py_sent_mb": total(nodes, PY_SENT) / MiB,
        f"{prefix}.py_recv_mb": total(nodes, PY_RECV) / MiB,
        f"{prefix}.py_rows": total(nodes, ROWS),
    }


def broadcast_layer(execs: list[dict]) -> tuple[float, float]:
    """(bytes, seconds) of the SQL broadcast exchanges in ``execs``."""
    nodes = [n for e in execs for n in e["nodes"] if n["name"] == "BroadcastExchange"]
    secs = sum(
        total(nodes, k) for k in ("time to collect", "time to build", "time to broadcast")
    )
    return total(nodes, "data size"), secs


def common_layers(rt: dict, job_s: float, cores: int) -> dict[str, float]:
    """Layers every workload has: Python worker start-up, the scan, and the
    Spark engine's own stage counters."""
    execs, stages = rt["execs"], rt["stages"]
    py = python_nodes(execs)
    scans = require([n for e in execs for n in e["nodes"] if n["name"].startswith("Scan")], "scan node")
    run_s = sum(s["run_s"] for s in stages)
    return {
        "session.py_init_s": sum(total(py, k) for k in PY_INIT),
        "sources.scan_s": total(scans, "scan time"),
        "sources.read_mb": total(scans, "size of files read") / MiB,
        "spark.cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.run_s": run_s,
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "spark.busy_frac": ratio(run_s, job_s * cores)["value"],
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MiB,
        "spark.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MiB,
        "spark.spill_mb": sum(s["spill_b"] for s in stages) / MiB,
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["tasks"] for s in stages)),
        "spark.task_skew": rt["skew"]["value"],
    }


def by_desc(items: list[dict], workload: str, call: str) -> list[dict]:
    return [i for i in items if i["desc"] == f"{workload}:{call}"]
