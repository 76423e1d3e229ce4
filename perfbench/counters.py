"""Per-phase Spark counters read back from the session's status stores.

A traced query runs each phase (construct, execute) under its own job
group. After the phase, `PhaseTracer.read` drains the listener bus and
sums over the jobs of that group:

- from the core status store (`jobsList`/`stageList` data): executor run
  time, shuffle write bytes, memory + disk spill bytes, failed tasks;
- from the SQL status store, over the executions that ran those jobs:
  `pythonTotalTime` ("time to run Python workers") and
  `pythonDataSent` + `pythonDataReceived`.

Nothing here touches package code: the stores exist in every session,
UI or not.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

#: SQL metric display names -> counter they add to.
_PY_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}

# "id -> 12 ms" or "id -> total (min, med, max (stageId: taskId))\n4.3 s (...)"
_VALUE = re.compile(
    r"(\d+) -> (?:total \(min, med, max \(stageId: taskId\)\)\n)?"
    r"([0-9][0-9.,]*) ?([A-Za-z]*)"
)
_JOB = re.compile(r"(\d+) -> ")
_METRIC = re.compile(r"SQLPlanMetric\(([^,]*),(\d+),(\w+)\)")
_UNIT = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}

COUNTERS = (
    "jobs",
    "task_s",
    "shuffle_bytes",
    "spill_bytes",
    "failed_tasks",
    "python_s",
    "python_bytes",
)


def _parse_values(text: str) -> dict[int, float]:
    out = {}
    for acc_id, num, unit in _VALUE.findall(text):
        out[int(acc_id)] = float(num.replace(",", "")) * _UNIT.get(unit, 1)
    return out


class PhaseTracer:
    """Reads the counters of one traced phase at a time; `read` must
    follow each phase, since executions are scanned from the last read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._stages = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = self._last_execution_id() + 1

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).head().executionId()

    def read(self, group: str) -> dict[str, float]:
        """Counters of the phase that just ran under job group `group`."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0.0)
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs"] = float(len(job_ids))
        stage_ids = set()
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for stage_id in stage_ids:
            try:
                st = self._stages.lastStageAttempt(stage_id)
            except Py4JJavaError:  # a stage the store no longer holds
                continue
            out["task_s"] += st.executorRunTime() / 1e3
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["failed_tasks"] += st.numFailedTasks()
        jobs = set(job_ids)
        last = self._last_execution_id()
        for exec_id in range(self._next_exec, last + 1):
            opt = self._sql.execution(exec_id)
            if opt.isEmpty():
                continue
            execution = opt.get()
            exec_jobs = {int(j) for j in _JOB.findall(execution.jobs().toString())}
            if not exec_jobs & jobs:
                continue  # ran outside this phase (another phase, a check)
            wanted = {
                int(acc): _PY_METRICS[name]
                for name, acc, _ in _METRIC.findall(execution.metrics().toString())
                if name in _PY_METRICS
            }
            if not wanted:
                continue
            values = _parse_values(self._sql.executionMetrics(exec_id).toString())
            for acc, key in wanted.items():
                out[key] += values.get(acc, 0.0)
        self._next_exec = max(self._next_exec, last + 1)
        return out
