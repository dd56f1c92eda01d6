"""Measurement probes used by ``run.py``: process-tree CPU and memory from
``/proc``, host CPU accounting from ``/proc/stat``, Spark status-store
counters for one job group, and an in-memory span recorder.

Everything here observes the program from the outside; nothing in
``pregel_rs_spark`` is edited.  The only hook is :func:`method_span`, which
times ``Pregel.run`` in traced passes only.
"""

from __future__ import annotations

import os
import signal
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc: process tree ------------------------------------------------------

def _proc_stats() -> dict[int, tuple[int, float, int]]:
    """``pid -> (ppid, cpu seconds incl. reaped children, start tick)``."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[0] is state (stat field 3); utime..cstime are fields 14-17
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (ppid, ticks / _CLK_TCK, int(fields[19]))
    return out


def _descendants(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _jit_threads(pid: int) -> dict[tuple[int, int], float]:
    """CPU seconds of the JIT compiler threads of JVM ``pid``."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = raw[raw.rindex(")") + 2:].split()
            out[(int(tid), int(fields[19]))] = (int(fields[11]) + int(fields[12])) / _CLK_TCK
    return out


@dataclass
class CpuSample:
    procs: dict  # (pid, start tick) -> CPU seconds incl. reaped children
    jit: dict    # (tid, start tick) -> CPU seconds of a JIT compiler thread


def cpu_sample(jvm_pid: int) -> CpuSample:
    """CPU seconds (user+system) of this interpreter and each of its
    descendants — the driver JVM and the Python workers it forks — and of
    the JVM's JIT compiler threads."""
    table = _proc_stats()
    procs = {(p, table[p][2]): table[p][1]
             for p in _descendants(table, os.getpid()) if p in table}
    return CpuSample(procs, _jit_threads(jvm_pid))


def _delta(before: dict, after: dict) -> float:
    return sum(v - before.get(k, 0.0) for k, v in after.items())


def cpu_between(before: CpuSample, after: CpuSample) -> tuple[float, float]:
    """``(program CPU s, JIT compiler CPU s)`` between two samples.

    Program CPU is the process tree's CPU minus the JIT compiler threads.
    Background compilation runs on its own schedule and keeps shrinking
    pass after pass, while the program's own threads repeat their work, so
    it is reported apart.

    Summed per process, because the Python worker daemon ignores SIGCHLD:
    its exited workers are reaped by the kernel and their time never
    reaches a parent's counters, so a tree total could fall."""
    jit = _delta(before.jit, after.jit)
    return _delta(before.procs, after.procs) - jit, jit


def _status_kib(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def vmhwm_mib(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of the driver JVM since it started.

    A diagnostic: it mostly follows how far G1 has grown the heap, not the
    program's own use (that is :func:`spark_peak_memory_mib`)."""
    return _status_kib(jvm_pid, "VmHWM") / 1024.0


def stop_tree(pids_and_starts: list[tuple[int, int]], timeout: float = 30.0) -> None:
    """Wait until every listed process has ended; SIGKILL what outlives
    ``timeout``.  A pid is matched with its start tick, so a recycled pid is
    never signalled."""
    deadline = time.monotonic() + timeout
    pending = list(pids_and_starts)
    while pending:
        table = _proc_stats()
        pending = [(p, s) for p, s in pending if p in table and table[p][2] == s]
        if not pending:
            return
        if time.monotonic() > deadline:
            for pid, _ in pending:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def descendants_with_start() -> list[tuple[int, int]]:
    table = _proc_stats()
    me = os.getpid()
    return [(p, table[p][2]) for p in _descendants(table, me) if p != me and p in table]


# -- /proc/stat: host ---------------------------------------------------------

def host_ticks() -> tuple[int, int, int]:
    """``(total, idle incl. iowait, steal)`` jiffies of the whole host."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    total = sum(vals[:8])  # guest time is already inside user/nice
    return total, vals[3] + vals[4], vals[7]


def host_fracs(before: tuple[int, int, int], after: tuple[int, int, int]) -> tuple[float, float]:
    """``(steal_frac, busy_frac)`` of the host between two samples."""
    total = max(after[0] - before[0], 1)
    idle = after[1] - before[1]
    steal = after[2] - before[2]
    return steal / total, (total - idle - steal) / total


# -- Spark status store -------------------------------------------------------

def spark_counters(sc, group: str) -> dict[str, float]:
    """Sum the stage metrics of every job launched under ``group``.

    Drains the listener bus first, so the status store holds the final
    metrics of the last stage.  A stage shared by several jobs is counted
    once; a skipped stage contributes nothing."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    tot = dict.fromkeys(
        ("tasks", "shuffle_write", "shuffle_read", "spill", "gc_ms", "run_ms"), 0
    )
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is None or info.numCompletedTasks == 0:
            continue  # skipped: its output was reused
        sd = store.lastStageAttempt(sid)
        tot["tasks"] += sd.numCompleteTasks()
        tot["shuffle_write"] += sd.shuffleWriteBytes()
        tot["shuffle_read"] += sd.shuffleReadBytes()
        tot["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        tot["gc_ms"] += sd.jvmGcTime()
        tot["run_ms"] += sd.executorRunTime()
    return {
        "spark.jobs": len(job_ids),
        "spark.tasks": tot["tasks"],
        "spark.shuffle_write_bytes": tot["shuffle_write"],
        "spark.shuffle_read_bytes": tot["shuffle_read"],
        "spark.spill_bytes": tot["spill"],
        "spark.gc_s": tot["gc_ms"] / 1000.0,
        "spark.task_s": tot["run_ms"] / 1000.0,
    }


def spark_peak_memory_mib(sc, group: str) -> float:
    """Peak on-heap memory Spark's memory manager held for the program
    (execution + storage, ``OnHeapUnifiedMemory``) while any stage of the
    jobs under ``group`` ran, in MiB.

    Spark samples it every ``spark.executor.metrics.pollingInterval`` and
    keeps the peak per stage.  Unlike the JVM's resident set it does not
    follow how much of the heap G1 has touched."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    peak = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            metrics = store.lastStageAttempt(sid).peakExecutorMetrics()
            if metrics.isDefined():
                peak = max(peak, metrics.get().getMetricValue("OnHeapUnifiedMemory"))
    return peak / 2**20


# -- spans --------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written out when
    the benchmark ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.monotonic(), parent=parent, attrs=attrs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.monotonic()
        self._stack.remove(idx)
        return span

    @contextmanager
    def span(self, name: str, **attrs):
        idx = self.open(name, **attrs)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    def children(self, span: Span, name: str) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and s.parent is not None and self.spans[s.parent] is span]

    def rows(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


@contextmanager
def method_span(tracer: Tracer, cls: type, method: str, span: str):
    """Record a ``span`` around every call of ``cls.method`` inside the
    block.  The method is wrapped for the duration of the block and restored
    afterwards; the call itself is untouched."""
    base = cls.__dict__[method]

    def wrapped(self, *a, **k):
        with tracer.span(span):
            return base(self, *a, **k)

    setattr(cls, method, wrapped)
    try:
        yield
    finally:
        setattr(cls, method, base)


def median(xs):
    return statistics.median(xs) if xs else 0.0
