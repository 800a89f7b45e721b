"""Spans around layer calls, and Spark's own status stores read per iteration.

Spans are kept in memory and written when the run ends.  Only the
benchmark's files record them: each span wraps one call into a layer of
the package, and while a span is open its jobs run under a job group named
after it, so Spark's ``statusTracker`` can attribute jobs and stages to the
layer.  The SQL status store (populated with the UI disabled) gives the
per-operator metrics: scan rows and time, codegen time, Python time.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    iteration: int


class Tracer:
    """Records spans when enabled; otherwise each span is a bare yield, so
    the untraced run pays no bookkeeping and sets no job groups."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.groups: dict[int, list[str]] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, iteration: int):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        group = f"it{iteration}:{name}"
        self.groups.setdefault(iteration, []).append(group)
        self.sc.setJobGroup(group, name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, iteration))
            if self._stack:
                self.sc.setJobGroup(f"it{iteration}:{self._stack[-1]}", self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """Parse one SQL metric string: '1,234', '3.4 s', '12 ms', '1.5 MiB',
    or the multi-task 'total (min, med, max ...)\\n<total> (...)' form."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


# SQL plan nodes and metrics read per iteration: node-name prefix ->
# {metric name: key in the per-iteration totals}
_PYTHON = {"number of output rows": "python_rows",
           "time to run Python workers": "python_time_s"}
_SQL_METRICS = {
    "Scan parquet": {"number of output rows": "scan_rows", "scan time": "scan_time_s"},
    "WholeStageCodegen": {"duration": "codegen_s"},
    "MapInPandas": _PYTHON,
    "ArrowEvalPython": _PYTHON,
    "BatchEvalPython": _PYTHON,
}


class SparkStatus:
    """Reads jobs/stages from the application status store and operator
    metrics from the SQL status store, for the jobs of given job groups
    and the SQL executions started after a mark."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.app = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self.bus.waitUntilEmpty()

    def mark(self) -> int:
        ex = self.sql.executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def jobs(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict(stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                   gc_s=0.0, shuffle_write_bytes=0, spill_bytes=0, write_bytes=0)
        for sid in stage_ids:
            try:
                sd = self.app.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store, or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["write_bytes"] += sd.outputBytes()
        out["jobs"] = len(job_ids)
        return out

    def sql_totals(self, since: int) -> dict[str, float]:
        out = dict(scan_rows=0.0, scan_time_s=0.0, codegen_s=0.0,
                   python_rows=0.0, python_time_s=0.0)
        ex = self.sql.executionsList()
        for i in range(ex.size() - 1, -1, -1):
            eid = ex.apply(i).executionId()
            if eid <= since:
                break
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                wanted = next((v for k, v in _SQL_METRICS.items()
                               if name.startswith(k)), None)
                if wanted is None:
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = wanted.get(metric.name())
                    if key is None:
                        continue
                    opt = values.get(metric.accumulatorId())
                    if opt.isDefined():
                        out[key] += _metric_value(opt.get())
        return out


def spark_metrics(status: SparkStatus, groups: list[str], mark: int, wall: float,
                  rows: int) -> dict[str, float]:
    """The spark.* figures of the jobs run under `groups` and the SQL
    executions after `mark`, over a stretch of `wall` seconds that
    processed `rows` input rows."""
    stages = status.stage_totals(status.jobs(groups))
    sql = status.sql_totals(mark)
    out = {f"spark.{k}": v for k, v in stages.items()}
    for key in ("scan_time_s", "codegen_s", "python_time_s"):
        out[f"spark.{key}"] = sql[key]
    out["spark.scan_rows_ratio"] = sql["scan_rows"] / rows
    out["spark.python_rows_ratio"] = sql["python_rows"] / rows
    cores = status.sc.defaultParallelism
    out["spark.core_idle_frac"] = 1 - stages["executor_run_s"] / (wall * cores)
    return out
