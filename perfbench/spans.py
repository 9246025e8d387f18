"""Spans and per-layer counters, measured from outside the program.

Spans are recorded around the benchmark's own calls into each layer
(setup, pass, query, build, action) and kept in memory. Each Spark job
is tied to its span through a job group; job, stage and task counts come
from ``statusTracker()``, run/CPU/GC/shuffle/spill numbers and input rows
from Spark's status store, and scan bytes, per-operator and Python-worker
numbers from the SQL status store's plan graph of the span's SQL
executions.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# SQL plan metrics summed into per-layer metrics: the scan layer's file
# bytes and the Python/Arrow operator layer
PLAN_METRICS = {
    "size of files read": "sources.input_mb",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}

_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in s (timings), MB (sizes) or
    plain counts. Forms: '500', '1.9 s', '27.5 KiB', and
    'total (min, med, max (stageId: taskId))\n3 ms (1 ms, 2 ms, ...)'."""
    total = text.rsplit("\n", 1)[-1].split(" (", 1)[0].split()
    value = float(total[0].replace(",", ""))
    return value * _UNIT[total[1]] if len(total) > 1 else value


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Spans plus Spark status-store readings for one client process."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # span clocks are perf_counter; Spark reports epoch milliseconds
        self._epoch = time.time() - time.perf_counter()

    def attach(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seq = jvm.scala.jdk.javaapi.CollectionConverters
        self._all = jvm.java.util.ArrayList()
        # one JSON round trip per status-store object instead of one py4j
        # call per field keeps harvesting a pass short
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(scala, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "t0": time.perf_counter(), "t1": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    def group(self, gid: str | None) -> None:
        """Tag the jobs this thread submits next with ``gid`` (None: untag)."""
        self._sc.setLocalProperty("spark.jobGroup.id", gid)

    def last_execution(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._seq.asJava(self._sql.executionsList(int(n - 1), 1))[0].executionId()

    def persisted_rdds(self) -> int:
        return len(self._sc._jsc.getPersistentRDDs())

    def job_table(self) -> dict[int, dict]:
        """Every job the status store still holds, by id."""
        return {j["jobId"]: j for j in self._json(self._store.jobsList(self._all))}

    def jobs(self, gid: str, table: dict[int, dict], seen_stages: set[int]) -> dict:
        """Counters of every job tagged ``gid``. A stage shared by several
        jobs is counted once per pass through ``seen_stages``."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0,
               "task_cpu_s": 0.0, "gc_s": 0.0, "input_rows": 0,
               "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
               "intervals": []}
        for job_id in self._tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            job = table.get(job_id)
            if job is None:
                continue
            if job["completionTime"] is not None:
                out["intervals"].append((job["submissionTime"] / 1e3 - self._epoch,
                                         job["completionTime"] / 1e3 - self._epoch))
            for stage_id in job["stageIds"]:
                if stage_id in seen_stages:
                    continue
                seen_stages.add(stage_id)
                try:
                    stage = self._json(self._store.lastStageAttempt(stage_id))
                except Py4JJavaError:  # listed in the job but never submitted
                    continue
                if stage["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage["numTasks"]
                out["failed_tasks"] += stage["numFailedTasks"]
                out["task_s"] += stage["executorRunTime"] / 1e3
                out["task_cpu_s"] += stage["executorCpuTime"] / 1e9
                out["gc_s"] += stage["jvmGcTime"] / 1e3
                out["input_rows"] += stage["inputRecords"]
                out["shuffle_write_mb"] += stage["shuffleWriteBytes"] / 2**20
                out["shuffle_read_mb"] += stage["shuffleReadBytes"] / 2**20
                out["spill_mb"] += stage["diskBytesSpilled"] / 2**20
        return out

    def plan(self, first: int, last: int) -> tuple[dict, dict]:
        """PLAN_METRICS totals and per-operator metric sums over the SQL
        executions with ids in (first, last]."""
        layers = dict.fromkeys(PLAN_METRICS.values(), 0.0)
        operators: dict[str, dict[str, float]] = {}
        for exec_id in range(first + 1, last + 1):
            values = self._json(self._sql.executionMetrics(exec_id))
            nodes = self._json(self._sql.planGraph(exec_id))["nodes"]
            while nodes:
                node = nodes.pop()
                nodes.extend(node.get("nodes", ()))  # codegen clusters nest nodes
                for metric in node["metrics"]:
                    text = values.get(str(metric["accumulatorId"]))
                    if text is None or metric["metricType"] == "average":  # no total
                        continue
                    value = parse_metric(text)
                    if not value:
                        continue
                    if metric["name"] in PLAN_METRICS:
                        layers[PLAN_METRICS[metric["name"]]] += value
                    op = operators.setdefault(node["name"].strip(), {})
                    op[metric["name"]] = op.get(metric["name"], 0.0) + value
        return layers, operators


def self_times(spans: list[dict]) -> None:
    """Add ``self_s`` to each span: its duration minus the part of it its
    child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    for s in spans:
        s["s"] = s["t1"] - s["t0"]
        s["self_s"] = s["s"] - covered(kids.get(s["id"], []), s["t0"], s["t1"])
