"""Spans around the benchmark's calls into the program, with Spark's own
counters diffed across each call.

Every span records its wall time, and on request the CPU time of the
benchmark's process tree (driver, JVM, Python workers). With counters
on (a traced run), a span also diffs Spark's status store, which stays
live with the UI disabled: the jobs and stages whose ids were allocated during the call,
and the task metrics of those stages (each stage counted once, skipped
stages not at all). Spans are kept in memory and written out when the
run ends. The time the tracer spends reading counters is kept apart, so
a traced run can report its own overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# name -> unit of every counter a traced span carries, besides wall_s
COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "input_mb": "MB",
    "output_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}
_MB = 1024.0 * 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user and system) run so far by process ``root``
    (default: this one) and every live descendant, with the children
    each has reaped: the driver, its JVM and Spark's Python workers.
    Time the hypervisor gave other guests (steal) is not in it."""
    root = os.getpid() if root is None else root
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid in cpu:
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p == root:
            total += cpu[pid]
    return total * _TICK_S


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class StatusDiff:
    """Spark counters between two points of one SparkContext's life."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._dag = sc.dagScheduler()

    def mark(self) -> tuple[int, int]:
        """Next job id and next stage id the scheduler will hand out."""
        # py4j hands the AtomicIntegers over as their current values
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def since(self, mark: tuple[int, int]) -> dict:
        job0, stage0 = mark
        job1, stage1 = self.mark()
        self._bus.waitUntilEmpty()  # every event of the call is in the store
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = job1 - job0
        for sid in range(stage0, stage1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # allocated but never submitted
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_mb"] += st.inputBytes() / _MB
            out["output_mb"] += st.outputBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        return out


class Tracer:
    """Records spans; reads Spark counters only when ``counters`` is on."""

    def __init__(self, counters: bool):
        self.counters = counters
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent reading counters
        self._diff: StatusDiff | None = None
        self._stack: list[int] = []

    def bind(self, spark) -> None:
        """Read counters from this session's context from now on; None
        (before the session stops) reads none until the next bind."""
        self._diff = StatusDiff(spark) if self.counters and spark is not None else None

    @contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        """With ``cpu``, the span also records ``cpu_s``, the process
        tree's CPU time across it (tree_cpu_s)."""
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        cpu0 = tree_cpu_s() if cpu else None
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = None
        if self._diff is not None:
            t = time.perf_counter()
            mark = self._diff.mark()
            self.overhead_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            raise
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            if cpu0 is not None:
                rec["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            if mark is not None:
                t = time.perf_counter()
                rec.update(self._diff.since(mark))
                self.overhead_s += time.perf_counter() - t

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, **extra) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": self.spans}, f)
