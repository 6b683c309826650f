"""Measurement plumbing for the benchmark: process-tree CPU and memory,
Spark job-group stage metrics, and in-memory spans.

Everything here observes the program from outside.  CPU and memory are read
from /proc for the benchmark's own process tree only (this Python driver,
its JVM, and the Python workers the JVM forks), never for every pid on the
host.  Stage metrics come from the Spark status store, which works with the
UI disabled: each span runs under its own job group, and its jobs' stages
are looked up through ``statusTracker().getJobIdsForGroup`` and
``statusStore().lastStageAttempt``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def tree_pids(root: int) -> list[str]:
    """``root`` and all its live descendants."""
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat(pid)
            if f is not None:
                children.setdefault(f[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of the process tree under ``root``,
    including descendants that already exited and were reaped."""
    total = 0
    for pid in tree_pids(root):
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TCK


def tree_rss_mb(root: int, peak: bool = False) -> float:
    """Summed resident memory of the tree; with ``peak`` each process's
    high-water mark (VmHWM) instead of its current size."""
    key = "VmHWM:" if peak else "VmRSS:"
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith(key):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024


def cpu_steal() -> tuple[int, int]:
    """(stolen, wanted) clock ticks of all CPUs so far, from /proc/stat:
    wanted is the time CPUs ran or were runnable (busy plus stolen)."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two cpu_steal() readings that
    the hypervisor took away: on a shared host, a busy interval stretched
    by this share is (1 - share) of its length net of steal."""
    wanted = after[1] - before[1]
    return (after[0] - before[0]) / wanted if wanted > 0 else 0.0


_STAGE_FIELDS = {
    # StageData accessor -> metric key
    "executorCpuTime": "exec_cpu_ns",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleReadRecords": "shuffle_read_records",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "inputRecords": "input_records",
    "outputRecords": "output_records",
    "outputBytes": "output_bytes",
    "numTasks": "tasks",
}


def group_metrics(sc, tag: str) -> dict:
    """Summed stage metrics of every job run under job group ``tag``.
    Stages a job skipped (shuffle reuse) have no attempt and count nothing."""
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(tag))
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = {k: 0 for k in _STAGE_FIELDS.values()}
    out["jobs"] = len(jobs)
    out["stages"] = 0
    for s in stages:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        for attr, key in _STAGE_FIELDS.items():
            out[key] += int(getattr(sd, attr)())
    return out


def jvm_gc_s(spark) -> float:
    """Total JVM garbage-collection time so far, in seconds."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class Tracer:
    """Nested spans around calls into the program's layers.

    A disabled tracer yields ``None`` and records nothing, so the timed runs
    pay no tracing cost.  An enabled one gives each span its own Spark job
    group and records name, start, end, parent span, run id, process-tree
    CPU delta and the span's own stage metrics; spans stay in memory until
    ``dump``."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.root = os.getpid()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # time spent on tracing itself: span bookkeeping plus "trace.*"
        # spans (row counts the untraced program would not run)
        self.own_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            **attrs,
        }
        t0 = time.time()
        self.spans.append(rec)
        tag = f"{self.run_id}-{rec['id']}"
        self.sc.setJobGroup(tag, name)
        self._stack.append(rec)
        cpu0 = tree_cpu_s(self.root)
        rec["start"] = time.time()
        self.own_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["cpu_s"] = tree_cpu_s(self.root) - cpu0
            self._stack.pop()
            rec.update(group_metrics(self.sc, tag))
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if name.startswith("trace."):
                self.own_s += rec["end"] - rec["start"]
            self.own_s += time.time() - rec["end"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def inclusive(self, span: dict, key: str) -> float:
        """``key`` summed over ``span`` and all its descendants (stage
        metrics are recorded per span, for its own job group only)."""
        total = span.get(key, 0)
        for s in self.spans:
            if s.get("parent") == span["id"]:
                total += self.inclusive(s, key)
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")
