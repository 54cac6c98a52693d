"""Measurement from outside the library: plan-job counting, per-layer
spans forced through the ``noop`` sink, event-log parsing and peak RSS.

Nothing here reaches into library internals. A layer is a module's
public function; its span is the benchmark's call into it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

MB = 1024 * 1024


class Spans:
    """Per-layer timings and counts for one traced run.

    ``call`` times a public call that builds a relation and counts the
    Spark jobs the call itself started (plan-construction jobs, which
    run before anything is forced). ``force`` runs a relation through
    the ``noop`` sink under a job description, so the event log can
    attribute its stages to the layer.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.values: dict[str, list[float]] = defaultdict(list)

    def last_job_id(self) -> int:
        # the status store is fed by the listener bus; drain it first so
        # a job that just finished is counted
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        ids = self.sc.statusTracker().getJobIdsForGroup()
        return max(ids, default=-1)

    def call(self, layer: str, fn, *args, **kwargs):
        before = self.last_job_id()
        self.sc.setJobDescription(f"{layer}.plan")
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            self.sc.setJobDescription(None)
        self.add(f"{layer}.plan_s", time.perf_counter() - t0)
        self.add(f"{layer}.plan_jobs", self.last_job_id() - before)
        return out

    def force(self, label: str, df) -> float:
        self.sc.setJobDescription(label)
        t0 = time.perf_counter()
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            self.sc.setJobDescription(None)
        return time.perf_counter() - t0

    def timed(self, label: str, fn, *args, **kwargs):
        """Run an eager call (a write, a collect) under a description."""
        self.sc.setJobDescription(label)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            self.sc.setJobDescription(None)
        self.add(f"{label}_s", time.perf_counter() - t0)
        return out

    def add(self, name: str, value: float) -> None:
        self.values[name].append(value)

    def medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.values.items()}


class EventLog:
    """Spark's own event-log listener on a running context. ``attach``
    and ``detach`` put it on and take it off the listener bus, so one
    session can alternate iterations with tracing off and on; events
    while detached are not logged. The log is one plain JSON file:
    ``zstandard`` is not installed."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext
        self.log_dir = log_dir
        self.jsc = sc._jsc.sc()
        jvm = sc._jvm
        conf = (
            self.jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId, jvm.scala.Option.apply(None),
            jvm.java.io.File(log_dir).toURI(), conf, sc._jsc.hadoopConfiguration(),
        )
        self.listener.start()

    def attach(self) -> None:
        self.jsc.addSparkListener(self.listener)

    def detach(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(60_000)
        self.jsc.removeSparkListener(self.listener)

    def close(self) -> str:
        """Flush and close the log; returns its path."""
        self.listener.stop()
        logs = [f for f in os.listdir(self.log_dir) if not f.startswith(".")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {self.log_dir}, found {logs}")
        return os.path.join(self.log_dir, logs[0])


def job_metrics(event_log: str) -> dict[int, dict]:
    """Task metrics per Spark job from an uncompressed event log.

    ``SparkListenerJobStart`` gives each job its description (the
    layer label) and stage ids; ``SparkListenerTaskEnd`` metrics are
    summed into the job that last listed the task's stage. Returns
    ``{job_id: {label, jobs, stages, tasks, task_s, jvm_cpu_s, gc_s,
    shuffle_write_mb, shuffle_read_mb, spill_mb}}``.
    """
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    with open(event_log, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get("spark.job.description") or ""
                jobs[ev["Job ID"]] = dict.fromkeys(COUNTERS, 0.0) | {"label": label, "jobs": 1}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                job = stage_job.get(ev["Stage Info"]["Stage ID"])
                if job is not None:
                    jobs[job]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                agg = jobs[job]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                agg["tasks"] += 1
                agg["task_s"] += m.get("Executor Run Time", 0) / 1e3
                agg["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                agg["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                agg["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    return jobs


COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "jvm_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)


def sum_jobs(jobs: dict[int, dict], keep) -> dict[str, float]:
    """Counter totals over the jobs ``keep(job_id, label)`` accepts."""
    total = dict.fromkeys(COUNTERS, 0.0)
    for job_id, m in jobs.items():
        if keep(job_id, m["label"]):
            for k in COUNTERS:
                total[k] += m[k]
    return total


def _stat(path: str) -> list[int]:
    """The numeric fields of a ``/proc`` stat file after the command
    name and state (index 10 is utime); empty if the process or thread is gone."""
    try:
        with open(path, encoding="utf-8") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return []
    return [int(x) for x in fields[1:]]


def cpu_times() -> tuple[int, int]:
    """(steal, total) host CPU ticks so far, from ``/proc/stat``: the
    share of steal over an interval says how much of it a virtualised
    host gave to other guests."""
    with open("/proc/stat", encoding="utf-8") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class ProcessTree:
    """The engine's processes: the Spark JVM and every process under it
    (the Python workers). ``cpu`` reads their CPU time, and this driver
    process's; ``sample`` reads their peak resident set, both from
    ``/proc``. Workers come and go, so each ``sample`` keeps the highest
    ``VmHWM`` seen per pid."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb: dict[int, int] = {}
        self.jit_ticks: dict[str, int] = {}

    def _tree(self) -> list[int]:
        children = defaultdict(list)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
        pids, todo = [], [self.jvm_pid]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(children.get(pid, ()))
        return pids

    def sample(self) -> None:
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)
                            break
            except OSError:
                continue

    def cpu(self) -> tuple[float, float]:
        """(work, JIT) CPU seconds spent so far, user plus system. JIT is
        the JVM's compiler threads; work is everything else the engine's
        processes ran, with the exited workers their parents have
        reaped. Time the hypervisor stole from the guest is in neither.

        Compilation falls off as the JVM warms up, at a pace that varies
        from run to run, so it is kept apart from the work. A compiler
        thread that exits keeps the last value read for it."""
        ticks = 0
        for pid in self._tree():
            # utime, stime, cutime, cstime
            ticks += sum(_stat(f"/proc/{pid}/stat")[10:14])
        tasks = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/comm", encoding="utf-8") as fh:
                    if not fh.read().startswith(("C1 Compiler", "C2 Compiler")):
                        continue
            except OSError:
                continue
            self.jit_ticks[tid] = sum(_stat(f"{tasks}/{tid}/stat")[10:12]) or self.jit_ticks.get(tid, 0)
        jit = sum(self.jit_ticks.values())
        own = os.times()
        hz = os.sysconf("SC_CLK_TCK")
        return (ticks - jit) / hz + own.user + own.system, jit / hz

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024

    def breakdown(self) -> dict:
        """Peak MB of the JVM and of each other process seen under it."""
        return {
            "jvm": self.peak_kb.get(self.jvm_pid, 0) / 1024,
            "others": sorted((kb / 1024 for pid, kb in self.peak_kb.items() if pid != self.jvm_pid), reverse=True),
        }
