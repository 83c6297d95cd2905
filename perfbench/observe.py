"""What the benchmark observes from outside the program: Spark's status
store per job group, cached-storage size, driver and Python-worker memory,
and spans.

Nothing here changes what the program computes. The status store is the
in-process ``AppStatusStore`` that Spark keeps with or without its web UI
(``spark.ui.enabled=false`` in ``plans.session.build_session``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# SQL metric that PythonSQLMetrics adds to every Python-UDF plan node
# (MapInArrow, ArrowEvalPython, ...). The stage data leaves SQL metrics out,
# so it is read from the SQL status store, per execution.
PYTHON_TIME_METRIC = "time to run Python workers"
_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_total_duration(text: str) -> float:
    """Seconds in the total of a formatted timing SQL metric, e.g.
    'total (min, med, max (stageId: taskId))\n12.4 s (373 ms, ...)'."""
    value, unit = text.strip().split("\n")[-1].split()[:2]
    return float(value) * _DURATION_UNITS[unit]


class StageStats:
    """Reads job, stage and SQL-execution data of the running SparkContext
    by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _jobs(self):
        jvm = self.sc._jvm
        jobs = self._store.jobsList(jvm.java.util.ArrayList())
        return [jobs.apply(i) for i in range(jobs.size())]

    def _stages(self):
        jvm = self.sc._jvm
        gw = self.sc._gateway
        stages = self._store.stageList(jvm.java.util.ArrayList(), False, False,
                                       gw.new_array(jvm.double, 0),
                                       jvm.java.util.ArrayList())
        return [stages.apply(i) for i in range(stages.size())]

    def _python_s(self, job_ids: list[int]) -> float:
        total = 0.0
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                metrics = nodes.apply(k).metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() != PYTHON_TIME_METRIC:
                        continue
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        total += parse_total_duration(v.get())
        return total

    def group(self, group: str) -> dict:
        """Totals over every stage of every job in ``group``."""
        # the status stores are filled from Spark's asynchronous event bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids, stage_ids = [], set()
        for j in self._jobs():
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                job_ids.append(j.jobId())
                ids = j.stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.size()))
        tot = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "shuffle_write_records": 0,
               "spill_bytes": 0, "python_s": 0.0, "stage_rows": []}
        for s in self._stages():
            if s.stageId() not in stage_ids:
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks()
            tot["executor_run_s"] += s.executorRunTime() / 1000.0
            tot["gc_s"] += s.jvmGcTime() / 1000.0
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["shuffle_write_records"] += s.shuffleWriteRecords()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["stage_rows"].append({
                "stage": s.stageId(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_write_records": s.shuffleWriteRecords()})
        tot["python_s"] = self._python_s(job_ids) if job_ids else 0.0
        return tot

    def driver_peak_memory(self) -> dict[str, int]:
        """Peak memory of the driver (which runs every task in local mode)
        since it started, by executor-metric name, as its executor-metrics
        poller sampled it (``spark.executor.metrics.pollingInterval``):
        JVM heap and non-heap in use, and what Spark's memory manager holds
        for cached blocks and execution buffers, on and off heap."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        names = ("JVMHeapMemory", "JVMOffHeapMemory", "OnHeapUnifiedMemory",
                 "OffHeapUnifiedMemory")
        execs = self._store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            peak = e.peakMemoryMetrics()
            if e.id() == "driver" and peak.isDefined():
                return {k: int(peak.get().getMetricValue(k)) for k in names}
        return dict.fromkeys(names, 0)

    def storage_bytes(self) -> int:
        """Bytes held by every cached RDD (memory + disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:80]
    except OSError:
        return "?"


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PythonRssSampler:
    """Samples the summed RSS of this process's Python descendants (the
    PySpark daemon and its workers, which the driver JVM forks) on a
    background thread. The JVM itself is left out: its memory is read from
    the status store instead (:meth:`StageStats.driver_peak_memory`)."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_processes: list[tuple[str, int]] = []  # (command, bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            procs = [(p, _rss_bytes(p)) for p in descendants(me)
                     if _comm(p).startswith("python")]
            rss = sum(b for _, b in procs)
            if rss > self.peak_bytes:
                self.peak_bytes = rss
                self.peak_processes = [(_command(p), b) for p, b in procs]
            self._stop.wait(self.period_s)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, leg: str, parent: int | None = None, **attrs):
        rec = {"id": len(self.spans), "name": name, "leg": leg,
               "parent": parent, "start": time.perf_counter() - self._t0}
        rec.update(attrs)
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)
