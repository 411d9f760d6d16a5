"""Counters read from Spark's own status stores, outside any timed region.

Jobs are attributed by job group: the caller tags a region of work with
``SparkContext.setJobGroup`` and later asks for the totals of that group.
Stage metrics come from the JVM ``AppStatusStore`` and scan metrics from the
SQL status store; both exist with the web UI disabled.
"""

from __future__ import annotations

import re

_MB = 1e6
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SCAN_METRIC = re.compile(
    r"SQLPlanMetric\((number of files read|size of files read|scan time),(\d+),")


def _last_number(text: str, units: dict[str, float]) -> float:
    """Value of a SQL metric string: a plain total (``'1,018.0 KiB'``) or the
    first line of a per-task summary (``'total (min, med, max ...)\\n352 ms
    (...)'``), whose first figure is the total."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * units.get(m.group(2), 1.0)


class SparkStats:
    """Reads job, stage and scan counters of one session."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm_sc = self._sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._next_execution = int(self._sql_store.executionsCount())

    def drain(self) -> None:
        """Wait until every posted task/stage/job event reached the stores."""
        self._jvm_sc.listenerBus().waitUntilEmpty()

    def group_totals(self, group: str) -> dict[str, float]:
        """Jobs, completed tasks, executor CPU seconds and shuffle MB written
        by the jobs of ``group``. Call :meth:`drain` first."""
        tracker = self._sc.statusTracker()
        store = self._jvm_sc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        tasks = cpu_ns = shuffle = 0
        for stage in stages:
            data = store.lastStageAttempt(stage)
            tasks += data.numCompleteTasks()
            cpu_ns += data.executorCpuTime()
            shuffle += data.shuffleWriteBytes()
        return {
            "jobs": float(len(jobs)),
            "tasks": float(tasks),
            "cpu_s": cpu_ns / 1e9,
            "shuffle_mb": shuffle / _MB,
        }

    def scan_totals(self) -> dict[str, float]:
        """Files read, MB read and scan seconds of the file scans in SQL
        executions that ended since the previous call. A metric repeated by
        adaptive re-planning is counted once (keyed by accumulator id)."""
        total = int(self._sql_store.executionsCount())
        out = {"files": 0.0, "mb": 0.0, "s": 0.0}
        if total == self._next_execution:
            return out
        fresh = self._sql_store.executionsList(self._next_execution, total - self._next_execution)
        self._next_execution = total
        seen: dict[int, tuple[str, str]] = {}
        for i in range(fresh.size()):
            execution = fresh.apply(i)
            # One call for the whole metric list; values only for the three
            # scan metrics (each py4j call costs a round trip).
            wanted = _SCAN_METRIC.findall(execution.metrics().toString())
            if not wanted:
                continue
            values = self._sql_store.executionMetrics(execution.executionId())
            for name, acc in wanted:
                value = values.get(int(acc))
                if value.isDefined():
                    seen[int(acc)] = (name, value.get())
        for name, text in seen.values():
            if name == "number of files read":
                out["files"] += _last_number(text, {})
            elif name == "size of files read":
                out["mb"] += _last_number(text, _UNITS) / _MB
            else:
                out["s"] += _last_number(text, _TIME_UNITS)
        return out
