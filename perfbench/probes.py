"""Measurement helpers: spans, process-tree CPU and memory, engine counters.

Nothing here imports the package under test. Spans are recorded by the
benchmark around its own calls into each layer; they are kept in memory
and written out once when the run ends.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing and
    costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it its children cover."""
        covered, edge = 0.0, s.start
        for c in sorted(self.children(s.id), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return s.dur - covered

    def find(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def subtree(self, root: Span) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s.id))
        return out

    def dump(self, path: str) -> None:
        rows = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


# --- process tree ----------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces; fields resume after the last ')'
        f = stat[stat.rindex(")") + 2 :].split()
        ppid = int(f[1])
        cpu = sum(int(x) for x in f[11:15]) / _CLK_TCK  # utime stime cutime cstime
        out[int(name)] = (ppid, cpu, int(f[21]) * page)
    return out


def _tree(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append(p)
            todo.extend(kids.get(p, ()))
    return out


class ProcessTree:
    """CPU seconds and sampled peak resident memory of this process and
    every descendant (the Spark JVM and its Python workers).
    CPU of a worker that exited is kept in its parent's reaped-children
    fields."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.root = os.getpid()
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        t = _proc_table()
        return sum(t[p][1] for p in _tree(t, self.root))

    def rss(self) -> int:
        """Summed RSS of the tree, from /proc/<pid>/stat. PSS from
        smaps_rollup would count the forked workers' shared pages once,
        but one read of the JVM's takes ~35 ms and holds its mmap lock."""
        t = _proc_table()
        return sum(t[p][2] for p in _tree(t, self.root))

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self._peak = max(self._peak, self.rss())

    def start_peak(self) -> None:
        self._peak = self.rss()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop_peak(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        return max(self._peak, self.rss())


def become_subreaper() -> None:
    """Have descendants orphaned during the run (a Python worker whose
    JVM exited first) re-parented to this process, so that
    ``stop_descendants`` can wait for every one of them."""
    import ctypes

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 20.0) -> None:
    """Return once no descendant of this process is left, reaping each.

    Descendants get the first half of ``grace_s`` to exit by themselves
    (the JVM does once its stdin closes), then SIGTERM, then SIGKILL."""
    me = os.getpid()
    t0, sent = time.monotonic(), None
    while True:
        _reap()
        t = _proc_table()
        kids = [p for p in _tree(t, me) if p != me]
        if not kids:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM if waited > grace_s / 2 else None
        if sig is not None and sig != sent:
            for p in kids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


# --- Spark status store ----------------------------------------------------


ENGINE_COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes")


class EngineCounters:
    """Per-layer engine counters read from the application status store
    (populated with the UI disabled).

    Calls into a layer are made one after another from one client
    thread, so the stages and jobs whose ids fall between two marks
    belong to the call between them. Marking by id window rather than
    by job group also catches jobs the package submits from its own
    thread pools, which do not inherit the caller's job group.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    # The store lists jobs and stages newest first (descending id), so
    # a walk from the head stops at the first id at or below the mark.

    def mark(self) -> tuple[int, int]:
        self._drain()
        st = self._sc.statusStore()
        jobs, stages = st.jobsList(None), self._stages(st)
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def _stages(self, st):
        return st.stageList(None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None)

    @staticmethod
    def _newer(seq, key, mark: int):
        for i in range(seq.size()):
            item = seq.apply(i)
            if key(item) <= mark:
                return
            yield item

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        self._drain()
        st = self._sc.statusStore()
        out = dict.fromkeys(ENGINE_COUNTERS, 0.0)
        out["jobs"] = float(sum(1 for _ in self._newer(st.jobsList(None), lambda j: j.jobId(), mark[0])))
        for s in self._newer(self._stages(st), lambda s: s.stageId(), mark[1]):
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


# --- statistics ------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
