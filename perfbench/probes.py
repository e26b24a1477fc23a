"""Counters read from outside the package: Spark's scheduler and
status stores, the JVM's management beans, and the host.

Everything here is read between iterations or around a call, never
inside Spark's work, and never changes session state.
"""

from __future__ import annotations

import os
import re
import time

from py4j.protocol import Py4JJavaError

# SQL metric names pyspark 4.1 attaches to the Python-worker operators
# (ArrowEvalPython, FlatMapGroupsInPandas, FlatMapCoGroupsInPandas, ...).
_PY_METRICS = {
    "time to run Python workers": "spark.python_run_s",
    "time to start Python workers": "spark.python_start_s",
    "data sent to Python workers": "spark.python_bytes_sent",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),\w+\)")
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_metric_value(text: str) -> float:
    """Spark renders SQL metrics as ``"1.8 s"`` or, when several tasks
    reported, ``"total (min, med, max ...)\\n1.8 s (...)"``. Returns the
    total in seconds or bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkProbe:
    """Job and stage ids from the DAG scheduler (assigned at submit, so
    deltas are exact), plus per-stage and per-SQL-execution totals from
    the status stores for everything submitted since the last read."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self._next_stage = 0
        self._n_execs = 0
        self.drain()

    def job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def stage_id(self) -> int:
        return int(self.jsc.dagScheduler().nextStageId())

    def drain(self) -> dict[str, float]:
        """Totals over stages and SQL executions submitted since the
        previous call. Waits for the listener bus first so the stores
        hold every event posted so far; call it between iterations,
        when no job is running."""
        self.jsc.listenerBus().waitUntilEmpty()
        out = {
            "spark.tasks": 0.0,
            "spark.executor_run_s": 0.0,
            "spark.shuffle_read_bytes": 0.0,
            "spark.shuffle_write_bytes": 0.0,
            "spark.spill_bytes": 0.0,
            **{v: 0.0 for v in _PY_METRICS.values()},
        }
        store = self.jsc.statusStore()
        next_stage = self.stage_id()
        for sid in range(self._next_stage, next_stage):
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # id reserved but the stage never ran
                continue
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.executor_run_s"] += s.executorRunTime() / 1000.0
            out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._next_stage = next_stage
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n_exec = int(sql.executionsCount())
        if n_exec == self._n_execs:
            return out
        execs = sql.executionsList(self._n_execs, n_exec - self._n_execs)
        for i in range(execs.length()):
            e = execs.apply(i)
            accs = {
                int(acc): _PY_METRICS[name]
                for name, acc in _PLAN_METRIC.findall(e.metrics().mkString("\n"))
                if name in _PY_METRICS
            }
            if not accs:
                continue
            values = sql.executionMetrics(e.executionId())
            for acc, key in accs.items():
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_metric_value(v.get())
        self._n_execs = n_exec
        return out


class JvmProbe:
    """Cumulative GC time and current heap use from the JVM's beans."""

    def __init__(self, spark) -> None:
        self.mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans()) / 1000.0

    def heap_used_mb(self) -> float:
        return self.mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def _proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _psi_cpu_total_us() -> int | None:
    try:
        with open("/proc/pressure/cpu") as fh:
            line = fh.readline()
    except OSError:
        return None
    return int(line.rsplit("total=", 1)[1])


class HostProbe:
    """Host context over a run: core count, load average, and the
    deltas of steal time (``/proc/stat``) and CPU pressure stall time
    (``/proc/pressure/cpu``), so a run in a slow host window shows."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.stat0 = _proc_stat_cpu()
        self.psi0 = _psi_cpu_total_us()

    def read(self) -> dict:
        elapsed = time.monotonic() - self.t0
        stat = _proc_stat_cpu()
        delta = [b - a for a, b in zip(self.stat0, stat)]
        total = sum(delta) or 1
        steal = delta[7] if len(delta) > 7 else 0
        psi = _psi_cpu_total_us()
        out = {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()),
            "elapsed_s": elapsed,
            "steal_frac": steal / total,
            "steal_s": steal / os.sysconf("SC_CLK_TCK"),
        }
        if psi is not None and self.psi0 is not None:
            out["cpu_pressure_some_s"] = (psi - self.psi0) / 1e6
            out["cpu_pressure_some_frac"] = out["cpu_pressure_some_s"] / max(elapsed, 1e-9)
        return out
