"""Measurement probes: CPU and peak memory of the process tree from
/proc, Spark stage and job metrics from the AppStatusStore, and spans.

CPU of a process tree is the CPU of each live member plus what its
reaped children used (``cutime``/``cstime``), so PySpark Python workers
that come and go between two readings are still counted once.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone: [0] state, [1] ppid, [11:15] utime, stime, cutime,
    cstime."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def _table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks of the pid and its reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (f := _fields(int(name))) is not None:
            out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def descendants(root: int, table=None) -> list[int]:
    """Every live process below ``root``."""
    table = _table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its descendants."""
    table = _table()
    pids = [root] + descendants(root, table)
    return sum(table[p][1] for p in pids if p in table) / CLK_TCK


def children_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the descendants of ``pid`` only (for the
    JVM: its PySpark Python workers), reaped ones included."""
    table, f = _table(), _fields(pid)
    if f is None:
        return 0.0
    reaped = int(f[13]) + int(f[14])
    return (reaped + sum(table[p][1] for p in descendants(pid, table))) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of pid, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def wait_gone(pids, timeout: float) -> list[int]:
    """Wait until every pid has exited (zombies count as exited); return
    those still alive at the timeout."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if (f := _fields(p)) is not None and f[0] != "Z"]
        if alive:
            time.sleep(0.05)
    return alive


# --- Spark AppStatusStore -------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def stage_rows(spark) -> list[dict]:
    """Every stage attempt the store retains, with the metrics used here.
    Call after draining the listener bus."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = []
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        out.append({
            "stage": s.stageId(),
            "attempt": s.attemptId(),
            "status": s.status().toString(),
            "submitted": _opt_ms(s.submissionTime()),
            "tasks": s.numTasks(),
            "failed_tasks": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "task_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
            "output_mb": s.outputBytes() / 1e6,
        })
    return out


def job_rows(spark) -> list[dict]:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(spark._jvm.java.util.ArrayList())
    out = []
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        out.append({
            "job": j.jobId(),
            "submitted": _opt_ms(j.submissionTime()),
            "stages": j.stageIds().size(),
            "skipped_stages": j.numSkippedStages(),
        })
    return out


def task_skew(spark, stage: int, attempt: int) -> float:
    """Max / median task run time of one stage attempt (1.0 if unknown)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    q = spark.sparkContext._gateway.new_array(spark._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = store.taskSummary(stage, attempt, q)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    median, top = run.apply(0), run.apply(1)
    return top / median if median > 0 else 1.0


# --- spans ----------------------------------------------------------------


class Tracer:
    """Records spans (name, start, end, parent, run id, attributes) in
    memory. When ``counter`` is set, each span also records its reading
    at the start (``c0``) and end (``c1``). A disabled tracer records
    nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.counter = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": None, "end": None, **attrs}
        if self.counter is not None:
            rec["c0"] = self.counter()
        rec["start"] = time.time()
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if self.counter is not None:
                rec["c1"] = self.counter()

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the children's durations."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            {**s, "self_s": s["end"] - s["start"] - child_s.get(s["id"], 0.0)}
            for s in self.spans
        ]
