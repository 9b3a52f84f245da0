"""Per-layer numbers read from Spark's own status stores.

Nothing here reaches into the program: every count comes from stores
Spark keeps for any application.

* ``SparkContext.statusTracker()`` maps a job group to its jobs and stages.
* ``statusStore().lastStageAttempt(id)`` gives per-stage task metrics
  (executor run/CPU/GC time, input, shuffle, spill, peak memory).
* The SQL ``sharedState().statusStore()`` gives each execution's plan graph
  and its formatted SQL metrics (the Python-boundary counters live there).
* A ``StreamingQueryListener`` records every micro-batch's progress.
"""

from __future__ import annotations

import datetime as _dt
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = {
    # StageData accessor -> (metric key, scale to SI units)
    "numTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_rows", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "peakExecutionMemory": ("peak_exec_memory_bytes", 1),
}

# Plan nodes that hand rows to a Python worker (Arrow or pickled).
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
# SQL metric display name on a Python node -> our key
PYTHON_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "number of output rows": "rows_received",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1, "m": 60, "h": 3600,
}


def parse_sql_metric(text: str | None) -> float:
    """Total of one formatted SQL metric value.

    Sum metrics read ``'10,000'``; size and timing metrics read
    ``'total (min, med, max ...)\\n54.3 KiB (5.3 KiB, ...)'``, whose total
    is the first value on the second line.
    """
    if not text:
        return 0.0
    line = text.split("\n", 1)[-1].strip()
    m = re.match(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def _utc_epoch(stamp: str) -> float:
    """Seconds since the epoch of a listener timestamp (``...T..Z``)."""
    return _dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class StreamListener(StreamingQueryListener):
    """Collects streaming query starts, progress and terminations."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: dict[str, tuple[str, float]] = {}  # runId -> (name, t)
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started[str(event.runId)] = (event.name, _utc_epoch(event.timestamp))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        row = {
            "run_id": str(p.runId),
            "name": p.name,
            "t": _utc_epoch(p.timestamp),
            "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
            "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def settle(self, timeout_s: float = 5.0) -> None:
        """Wait until every started query's termination was delivered."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.started) <= self.terminated:
                    return
            time.sleep(0.05)

    def snapshot(self) -> tuple[dict, list[dict]]:
        with self._lock:
            return dict(self.started), list(self.progress)


class StatusStores:
    """Reads the stage and SQL status stores of one live SparkSession."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._stages = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen_execution = -1

    def jobs(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Summed task metrics over the distinct stages of ``job_ids``.

        Skipped stages (shuffle output reused) ran no tasks and add 0.
        """
        out = {key: 0.0 for key, _ in STAGE_FIELDS.values()}
        out["stages"] = 0
        stage_ids = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in stage_ids:
            data = self._stages.lastStageAttempt(s)
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for field, (key, scale) in STAGE_FIELDS.items():
                if key == "peak_exec_memory_bytes":
                    out[key] = max(out[key], getattr(data, field)() * scale)
                else:
                    out[key] += getattr(data, field)() * scale
        return out

    def new_executions(self) -> list[dict]:
        """SQL executions finished since the last call that ran jobs, with
        their description, Python-node count and Python-boundary metrics."""
        out = []
        for ex in self._conv.asJava(self._sql.executionsList()):
            eid = ex.executionId()
            if eid <= self._seen_execution or ex.completionTime().isEmpty():
                continue
            self._seen_execution = max(self._seen_execution, eid)
            if ex.jobs().isEmpty():
                continue
            row = {
                "description": ex.description() or "",
                "jobs": ex.jobs().size(),
                "python_nodes": 0,
            }
            row.update({k: 0.0 for k in PYTHON_METRICS.values()})
            values = None
            for node in self._conv.asJava(self._sql.planGraph(eid).allNodes()):
                if not PYTHON_NODE.search(node.name()):
                    continue
                row["python_nodes"] += 1
                if values is None:
                    values = self._conv.asJava(self._sql.executionMetrics(eid))
                for m in self._conv.asJava(node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    if key:
                        row[key] += parse_sql_metric(values.get(m.accumulatorId()))
            out.append(row)
        return out
