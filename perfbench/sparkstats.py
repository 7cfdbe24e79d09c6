"""Per-layer counters read from the status stores Spark already keeps.

Two sources, both populated with ``spark.ui.enabled=false``:

- the SQL store (``sharedState().statusStore()``): per-node metrics of every
  SQL execution, read through ``planGraph`` + ``executionMetrics``.  The
  Python-boundary counters (``pydaemon.*``) and broadcast sizes live there.
- the application store (``sc().statusStore()``): per-stage task counts,
  executor run/CPU/GC time and shuffle bytes (``plans.*``).

Executions and jobs are attributed to a span through the job group the
tracer sets: the group id doubles as the job description, which Spark copies
into each SQL execution's description.  Nothing here runs a Spark job.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

PY_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
            "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
            "ArrowEvalPython", "BatchEvalPython", "WindowInPandas",
            "AggregateInPandas", "ArrowWindowPython", "ArrowAggregatePython")

_PY_METRICS = {
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
    "number of output rows": "rows_from_py",
}

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Value of one formatted SQL metric, in seconds, bytes or a count.

    Spark formats an aggregated metric as ``"total (min, med, max ...)\\n
    <total> (<min>, ...)"``; a single-task metric is just ``"<total>"``."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


class SparkStats:
    """Reads the counters of the jobs and SQL executions of one job group."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()
        self._next_job = 0
        self._next_exec = 0
        self._jobs_by_group: dict[str, list[int]] = {}
        self._execs_by_group: dict[str, list[int]] = {}

    def drain(self) -> None:
        """Block until the listener bus has delivered every event so far,
        then index the jobs and executions that appeared since last time."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        while True:
            try:
                job = self._app.job(self._next_job)
            except Py4JJavaError:  # no such job yet
                break
            group = job.jobGroup()
            if group.isDefined():
                self._jobs_by_group.setdefault(group.get(), []) \
                    .append(self._next_job)
            self._next_job += 1
        while True:
            ex = self._sql.execution(self._next_exec)
            if not ex.isDefined():
                break
            desc = ex.get().description()
            self._execs_by_group.setdefault(desc, []).append(self._next_exec)
            self._next_exec += 1

    def python_nodes(self, group: str) -> dict[str, float]:
        """Summed Python-boundary metrics over the group's SQL executions."""
        out = {v: 0.0 for v in _PY_METRICS.values()}
        out["broadcast_bytes"] = 0.0
        for eid in self._execs_by_group.get(group, []):
            values = self._sql.executionMetrics(eid)
            seen: set[int] = set()
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                if name in PY_NODES:
                    wanted = _PY_METRICS
                elif name == "BroadcastExchange":
                    wanted = {"data size": "broadcast_bytes"}
                else:
                    continue
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    key = wanted.get(m.name())
                    acc = m.accumulatorId()
                    if key is None or acc in seen:
                        continue
                    seen.add(acc)
                    v = values.get(acc)
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    def stages(self, group: str) -> dict[str, float]:
        """Task, time and shuffle totals over the stages the group's jobs
        ran (skipped stages excluded), plus the task skew (max / median
        task run time) of the widest stage, keyed by (tasks, run time)."""
        out = {"tasks": 0, "stages": 0, "run_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "fetch_wait_s": 0.0, "task_skew": 0.0, "widest": (0, 0)}
        widest = None
        seen: set[int] = set()
        for jid in self._jobs_by_group.get(group, []):
            ids = self._app.job(jid).stageIds().iterator()
            while ids.hasNext():
                sid = ids.next()
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._app.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                n = st.numCompleteTasks()
                out["stages"] += 1
                out["tasks"] += n
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                key = (n, st.executorRunTime())
                if widest is None or key > widest[0]:
                    widest = (key, sid, st.attemptId())
        if widest is not None:
            out["widest"] = widest[0]
            out["task_skew"] = self._task_skew(widest[1], widest[2])
        return out

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._app.taskSummary(stage_id, attempt, q)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / max(med, 1.0)
