"""Per-operation Spark metrics read from the driver's status store.

The benchmark runs one operation at a time under its own job group, then
calls :meth:`StatusStoreReader.read` with that group before the next
operation starts (so the retained-stage limit cannot evict its stages).
The reader first waits until Spark's listener bus has delivered every
event of the operation, then serializes the store's job, stage and
SQL-execution records to JSON in one JVM call each, and folds them into the
``spark.*`` and ``python.*`` layer metrics.

``spark.plan_s`` comes from a ``QueryExecutionListener`` (a Py4J callback,
registered only while a traced pass runs): it sums the analysis,
optimization and planning phases of every query execution that finished,
so it times the plans that actually ran, and plans nothing itself.

Spark 4.1's ``AppStatusStore.stageList`` takes five arguments; the null
forms of the lists throw, so empty lists and an empty quantile array are
passed.  Any failure of these internal APIs (a Spark upgrade renaming a
field, say) makes ``read`` return ``{}``: the traced run then lacks the
``spark.*`` numbers, and the untraced run never calls the reader at all.
"""

from __future__ import annotations

import contextlib
import json
import re
import sys

#: Spark's SQL metric name -> layer metric (seconds or bytes).
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

#: SQL executions inspected per read (an operation runs far fewer).
RECENT_EXECUTIONS = 200

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_TOTAL = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric value: ``'1.2 s'``, ``'3.0 KiB'``, or
    the ``'total (min, med, max ...)\\n9.7 s (2.4 s, ...)'`` form, in
    seconds or bytes."""
    line = text.splitlines()[-1] if "\n" in text else text
    m = _TOTAL.search(line)
    if not m or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _epoch_ms(v) -> int | None:
    """Status-store dates serialize as epoch milliseconds."""
    return int(v) if isinstance(v, (int, float)) else None


class StatusStoreReader:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._gw = sc._gateway
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._list = jvm.java.util.ArrayList
        self._no_quantiles = self._gw.new_array(jvm.double, 0)
        self._quantiles = self._gw.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self._cores = sc.defaultParallelism
        self._seen_execution = -1
        self._bus = sc._jsc.sc().listenerBus()
        self._listeners = spark._jsparkSession.listenerManager()
        self.plans = PlanPhaseListener()

    def listen(self):
        """Context manager: collect plan phase times while the block runs."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self._gw)
        return _registered(self._listeners, self.plans)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self, group: str, wall_s: float) -> dict[str, float]:
        """Layer metrics of the jobs in ``group``; ``wall_s`` is the
        operation's wall time (for driver time and parallel efficiency)."""
        try:
            return self._read(group, wall_s)
        except Exception as exc:  # API drift: degrade to no spark metrics
            print(f"# status store unreadable: {type(exc).__name__}: {exc}", file=sys.stderr)
            return {}

    def _read(self, group: str, wall_s: float) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        job_ids = self._sc.statusTracker().getJobIdsForGroup(group)
        jobs = [self._json(self._store.job(j)) for j in job_ids]
        stages = [
            s
            for j in jobs
            for sid in j.get("stageIds", [])
            for s in self._json(
                self._store.stageData(sid, False, self._list(), False, self._no_quantiles)
            )
            if s.get("status") == "COMPLETE"
        ]
        out: dict[str, float] = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["numTasks"] for s in stages)),
            "spark.task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.input_bytes": float(sum(s["inputBytes"] for s in stages)),
            "spark.shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
            "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
            "spark.shuffle_fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "spark.spill_bytes": float(
                sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)
            ),
        }
        spans = []
        serial_ms = 0
        for s in stages:
            a, b = _epoch_ms(s.get("submissionTime")), _epoch_ms(s.get("completionTime"))
            if a is None or b is None:
                continue
            spans.append((a, b))
            if s["numTasks"] == 1:
                serial_ms += b - a
        busy_s = _union_ms(spans) / 1e3
        out["spark.driver_s"] = max(0.0, wall_s - busy_s)
        out["spark.serial_stage_s"] = serial_ms / 1e3
        out["spark.parallel_eff"] = (
            out["spark.task_run_s"] / (busy_s * self._cores) if busy_s > 0 else 0.0
        )
        out["spark.skew"] = self._skew(stages)
        out.update(self._python_metrics())
        out["spark.plan_s"] = self.plans.take()
        return out

    def _skew(self, stages: list[dict]) -> float:
        """max / median task run time in the stage with the most task time."""
        multi = [s for s in stages if s["numTasks"] > 1]
        if not multi:
            return 1.0 if stages else 0.0
        top = max(multi, key=lambda s: s["executorRunTime"])
        summary = self._json(self._store.taskSummary(top["stageId"], top["attemptId"], self._quantiles))
        if not summary:
            return 0.0
        med, mx = summary["executorRunTime"]
        return mx / med if med > 0 else 0.0

    def _python_metrics(self) -> dict[str, float]:
        """Python-worker SQL metrics of the executions since the last read."""
        out = {name: 0.0 for name in PYTHON_SQL_METRICS.values()}
        count = self._sql_store.executionsCount()
        recent = self._sql_store.executionsList(max(0, count - RECENT_EXECUTIONS), RECENT_EXECUTIONS)
        for e in self._json(recent):
            eid = e["executionId"]
            if eid <= self._seen_execution:
                continue
            self._seen_execution = max(self._seen_execution, eid)
            wanted = {
                str(m["accumulatorId"]): PYTHON_SQL_METRICS[m["name"]]
                for m in e.get("metrics", [])
                if m.get("name") in PYTHON_SQL_METRICS
            }
            if not wanted:
                continue
            values = self._json(self._sql_store.executionMetrics(eid))
            for acc, name in wanted.items():
                if acc in values:
                    out[name] += parse_sql_metric(values[acc])
        return out

    def cached_mb(self) -> float:
        """Memory held by cached RDD blocks, in MiB."""
        try:
            rdds = self._json(self._store.rddList(True))
            return sum(r.get("memoryUsed", 0) for r in rdds) / 2**20
        except Exception:
            return 0.0


class PlanPhaseListener:
    """Sums the phase times (analysis, optimization, planning) of the query
    executions Spark reports to its ``QueryExecutionListener``s."""

    def __init__(self) -> None:
        self._ms = 0

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 (Java interface)
        self._add(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 (Java interface)
        self._add(qe)

    def _add(self, qe) -> None:
        try:
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                self._ms += it.next()._2().durationMs()
        except Exception as exc:  # API drift: no plan times
            print(f"# plan phases unreadable: {type(exc).__name__}: {exc}", file=sys.stderr)

    def take(self) -> float:
        """Seconds collected since the last call."""
        ms, self._ms = self._ms, 0
        return ms / 1e3

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@contextlib.contextmanager
def _registered(manager, listener):
    manager.register(listener)
    try:
        yield
    finally:
        manager.unregister(listener)
