"""Spark-side counts for a span, read from Spark's own status stores.

Jobs are attributed by job group: each traced span runs its Spark work
under a group of its own (a streaming query runs under its run id), and
a SQL execution belongs to the span whose group ran its jobs.
Per-stage figures come from ``AppStatusStore.lastStageAttempt`` and
per-operator SQL metrics (Python worker time and bytes, scan time) from
``SQLAppStatusStore``; both stores are kept with the UI disabled.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

# SQL metric name -> (count key, unit kind)
_SQL_METRICS = {
    "time to run Python workers": ("py_run_s", "time"),
    "time to start Python workers": ("py_start_s", "time"),
    "data sent to Python workers": ("py_bytes_sent", "size"),
    "data returned from Python workers": ("py_bytes_returned", "size"),
    "scan time": ("scan_time_s", "time"),
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")

STAGE_KEYS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes", "output_bytes",
    "output_records", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "failed_tasks",
)
COUNT_KEYS = ("jobs", *STAGE_KEYS, *(k for k, _ in _SQL_METRICS.values()))


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def parse_sql_metric(text: str, kind: str) -> float:
    """Total of a formatted SQL metric: ``'1.3 s'``, ``'64.0 KiB'``, or
    ``'total (min, med, max ...)\\n2.0 s (...)'`` for per-task metrics."""
    m = _VALUE.search(text.split("\n")[-1])
    if m is None:
        return 0.0
    units = _TIME_UNITS if kind == "time" else _SIZE_UNITS
    return float(m.group(1).replace(",", "")) * units.get(m.group(2), 0.0)


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def execution_mark(self) -> int:
        return int(self._sql.executionsCount())

    def counts(self, groups: list[str], since_execution: int) -> dict[str, float]:
        """Counts for the jobs of ``groups``, and for the SQL executions
        numbered from ``since_execution`` on that ran one of those jobs
        (so an enclosing span does not count its inner spans' again)."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNT_KEYS, 0.0)
        tracker = self.sc.statusTracker()
        jobs = set()
        for group in groups:
            jobs.update(tracker.getJobIdsForGroup(group))
        for job in jobs:
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                self._add_stage(out, stage)
        n = self.execution_mark() - since_execution
        executions = self._sql.executionsList(since_execution, n) if n > 0 else None
        for e in _iter(executions) if executions is not None else ():
            if jobs.isdisjoint(_iter(e.jobs().keys())):
                continue
            names = {m.accumulatorId(): m.name() for m in _iter(e.metrics())}
            for kv in _iter(self._sql.executionMetrics(e.executionId())):
                spec = _SQL_METRICS.get(names.get(kv._1()))
                if spec is not None:
                    out[spec[0]] += parse_sql_metric(kv._2(), spec[1])
        return out

    def _add_stage(self, out: dict[str, float], stage: int) -> None:
        try:
            sd = self._store.lastStageAttempt(stage)
        except Py4JJavaError:  # stage skipped: never attempted, nothing to add
            return
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["input_bytes"] += sd.inputBytes()
        out["output_bytes"] += sd.outputBytes()
        out["output_records"] += sd.outputRecords()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()
        out["failed_tasks"] += sd.numFailedTasks()
