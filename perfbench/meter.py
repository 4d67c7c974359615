"""Measurement for the benchmark: process-tree CPU and memory from
``/proc``, spans around calls into the engine's layers, and Spark's own
per-stage counters read from its status store over py4j.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(c) for c in fh.read().split()]
    except OSError:
        return []


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def start_time(pid: int) -> int | None:
    """Kernel start time of ``pid`` in clock ticks: with the pid it
    identifies a process even after the pid is reused."""
    fields = _stat(pid)
    return int(fields[19]) if fields else None


def tree_cpu_s() -> float:
    """CPU seconds of the process tree, user plus system.  ``cutime`` and
    ``cstime`` carry the CPU of children that exited and were reaped, so
    short-lived Python workers are not lost between two readings."""
    ticks = 0
    for pid in process_tree():
        fields = _stat(pid)
        if fields:
            ticks += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ticks / _CLK


def tree_rss_mb() -> float:
    pages = 0
    for pid in process_tree():
        fields = _stat(pid)
        if fields:
            pages += int(fields[21])
    return pages * _PAGE / 2**20


class RssSampler:
    """Background thread sampling the tree's resident memory; ``peak_mb``
    is the largest sum seen."""

    def __init__(self, period_s: float = 0.25):
        self.peak_mb = 0.0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self._period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


class Tracer:
    """Spans (name, start, end, parent) kept in memory.  A disabled
    tracer records nothing, so the untraced run pays no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def last(self, name: str) -> float:
        """Duration of the latest finished span called ``name`` (0 if none)."""
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]
        return d[-1] if d else 0.0


class SparkStages:
    """Per-stage counters from the application status store (works with
    ``spark.ui.enabled=false``).  ``take()`` returns the totals of the
    stages completed since the previous call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen: set[tuple[int, int]] = set()
        self.take()

    def _stages(self):
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def take(self) -> dict[str, float]:
        tot = {
            "tasks": 0,
            "failed_tasks": 0,
            "task_cpu_s": 0.0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        for st in self._stages():
            key = (st.stageId(), st.attemptId())
            if key in self._seen or str(st.status()) not in ("COMPLETE", "FAILED"):
                continue
            self._seen.add(key)
            tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            tot["failed_tasks"] += st.numFailedTasks()
            tot["task_cpu_s"] += st.executorCpuTime() / 1e9
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot


def add_into(acc: dict[str, float], part: dict[str, float]) -> dict[str, float]:
    for k, v in part.items():
        acc[k] = acc.get(k, 0) + v
    return acc
