"""Spans and Spark-side counters for the traced benchmark run.

``Tracer`` keeps spans (name, start, end, parent, operation id) in memory
and writes them out once, when the run ends. ``SparkCounters`` reads what
Spark already records with the UI off: the app status store (jobs,
stages, task time, shuffle and spill bytes), the SQL status store (plan
node metrics such as a scan's ``size of files read``) and the codegen
counters. Each traced operation runs its jobs under its own job group, so
its stages are found by group rather than by timestamps.

Nothing here imports the engine: the spans wrap calls made from the
benchmark's own files.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

# SQL plan-node metric name -> counter key, summed over the nodes whose
# name matches the prefix.
SCAN_METRICS = {
    "number of files read": "scan.files_read",
    "size of files read": "scan.bytes_read",
    "number of output rows": "scan.rows_out",
}
PYWORKER_METRICS = {
    "number of output rows": "pyworker.rows_returned",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
# the mapInPandas merge and the pandas UDFs; the rows a worker receives
# are the rows its child node produced
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInArrow",
                "BatchEvalPython", "FlatMapCoGroupsInPandas")

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and every live descendant
    (children it has reaped are included by the kernel). CPU time does
    not count the time a virtual CPU was stolen by the host."""
    total = 0.0
    stack = [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15]) / _TICK
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children", encoding="ascii") as f:
                    stack.extend(int(c) for c in f.read().split())
        except FileNotFoundError:  # exited between listing and reading
            continue
    return total


class Tracer:
    """In-memory spans; ``dump`` writes them when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": self.spans}, f)


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric ("60,000", "1069.9 KiB", "510 ms",
    or the "total (min, med, max ...)" form whose total is the first
    number on its second line)."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return v * _SIZE_UNITS[unit]
    return {"ms": 1e-3, "s": 1.0, "ns": 1e-9, "m": 60.0, "h": 3600.0}.get(unit, 1.0) * v


class SparkCounters:
    """Reads Spark's status stores for the jobs of one job group."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._jvm = jvm
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = jvm.org.apache.spark.util.AccumulatorContext
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cgm = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._group_seq = 0

    # -- codegen --------------------------------------------------------
    def codegen(self) -> dict:
        return {
            "codegen.compiles": self._cgm.METRIC_COMPILATION_TIME().getCount(),
            "codegen.classes": self._cgm.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount(),
            "codegen.compile_s": self._cg.compileTime() / 1e9,
        }

    # -- job groups -----------------------------------------------------
    @contextmanager
    def group(self, label: str):
        """Run the block's Spark jobs under a fresh job group; yields a
        dict that receives the group's counters after the block."""
        self._group_seq += 1
        gid = f"bench-{self._group_seq}-{label}"
        first_exec = self._sql.executionsCount()
        out: dict = {}
        self.sc.setJobGroup(gid, label)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        out.update(self._collect(gid, first_exec))

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _collect(self, gid: str, first_exec: int) -> dict:
        self._drain()
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(gid))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = {k: 0.0 for k in (
            "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
            "exec.failed_tasks", "exec.spill_bytes", "exchange.count",
            "exchange.write_bytes", "exchange.read_bytes", "exchange.fetch_wait_s",
            "stage.input_bytes",
            *SCAN_METRICS.values(), *PYWORKER_METRICS.values(), "pyworker.rows_sent")}
        c["exec.jobs"] = float(len(job_ids))
        for sid in stage_ids:
            attempts = self._app.stageData(sid, False, self._jvm.java.util.ArrayList(),
                                           False, self._no_quantiles)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                c["exec.failed_tasks"] += s.numFailedTasks()
                c["exec.task_run_s"] += s.executorRunTime() / 1e3
                c["exec.task_cpu_s"] += s.executorCpuTime() / 1e9
                c["exec.spill_bytes"] += s.diskBytesSpilled()
                c["stage.input_bytes"] += s.inputBytes()
                w = s.shuffleWriteBytes()
                if w > 0:
                    c["exchange.count"] += 1
                    c["exchange.write_bytes"] += w
                c["exchange.read_bytes"] += s.shuffleReadBytes()
                c["exchange.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
        self._sql_metrics(first_exec, c)
        return c

    def _metric_value(self, acc_id: int, formatted) -> float:
        acc = self._acc.get(acc_id)
        if acc.isDefined():
            return float(acc.get().value())
        return parse_metric(formatted.get()) if formatted.isDefined() else 0.0

    def _sql_metrics(self, first_exec: int, c: dict) -> None:
        """Scan and Python-worker node metrics of the SQL executions that
        started inside the group (executions are numbered in order)."""
        execs = self._sql.executionsList(first_exec, 1 << 20)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            nodes = graph.allNodes()
            by_id = {}
            for k in range(nodes.size()):
                n = nodes.apply(k)
                by_id[n.id()] = n
            edges = graph.edges()
            child_of = {}
            for k in range(edges.size()):
                e = edges.apply(k)
                child_of.setdefault(e.toId(), []).append(e.fromId())
            for nid, n in by_id.items():
                name = n.name()
                if name.startswith("Scan "):
                    table = SCAN_METRICS
                elif name.startswith(PYTHON_NODES):
                    table = PYWORKER_METRICS
                    for ch in child_of.get(nid, []):
                        c["pyworker.rows_sent"] += self._rows_out(by_id.get(ch), values)
                else:
                    continue
                ms = n.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    key = table.get(m.name())
                    if key:
                        c[key] += self._metric_value(m.accumulatorId(), values.get(m.accumulatorId()))

    def _rows_out(self, node, values) -> float:
        if node is None:
            return 0.0
        ms = node.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            if m.name() in ("number of output rows", "records read"):
                return self._metric_value(m.accumulatorId(), values.get(m.accumulatorId()))
        return 0.0
