"""Spans, Spark counters, host-speed sentinel and process-tree memory.

Everything here is measured from outside the engine: spans wrap the
benchmark's own calls into the engine's public functions, and the Spark
counters are read from the live status store after each traced operation.
Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

import numpy as np
from py4j.protocol import Py4JJavaError


class SparkCounters:
    """Per-operation Spark execution counters.

    Jobs are attributed to an operation by job id: the benchmark is a
    single closed-loop client, so every job submitted between the start
    and the end of an operation belongs to it, including jobs the engine
    submits from its own threads."""

    def __init__(self, sc):
        self._jsc = sc._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def read(self, first_job: int, t0_ms: float, t1_ms: float) -> dict:
        """Counters of jobs ``first_job`` .. the latest, for an operation
        whose wall ran from ``t0_ms`` to ``t1_ms`` (epoch milliseconds)."""
        last_job = self.next_job_id()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict(jobs=0, stages=0, tasks=0, shuffle_bytes=0, executor_cpu_ms=0.0)
        intervals = []
        for jid in range(first_job, last_job):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # NoSuchElementException
                continue  # evicted from the store, or never registered
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                intervals.append((float(sub.get().getTime()), float(end)))
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numCompleteTasks())
                out["shuffle_bytes"] += int(st.shuffleWriteBytes())
                out["executor_cpu_ms"] += int(st.executorCpuTime()) / 1e6
        out["nonjob_ms"] = max(0.0, (t1_ms - t0_ms) - _union_ms(intervals, t0_ms, t1_ms))
        return out


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans (name, start, end, parent) around calls into the engine's
    layers, plus Spark counters on operation spans.  Disabled, every
    method is a no-op, so end-to-end timings carry no tracing cost."""

    def __init__(self, counters: SparkCounters | None = None, enabled: bool = False):
        self.enabled = enabled
        self.counters = counters if enabled else None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        """Record one span; ``spark=True`` also attaches the Spark counters
        of the jobs run inside it.  Yields the span dict (None if off)."""
        if not self.enabled:
            yield None
            return
        rec = dict(
            id=len(self.spans),
            parent=self._stack[-1] if self._stack else None,
            name=name,
            **attrs,
        )
        self.spans.append(rec)
        self._stack.append(rec["id"])
        first_job = self.counters.next_job_id() if spark and self.counters else None
        wall0 = time.time() * 1000.0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            wall1 = time.time() * 1000.0
            self._stack.pop()
            if first_job is not None:
                rec["spark"] = self.counters.read(first_job, wall0, wall1)

    def children(self, parent_name: str, child_name: str) -> list[float]:
        parents = {s["id"] for s in self.spans if s["name"] == parent_name}
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == child_name and s["parent"] in parents
        ]

    def spark(self, name: str, key: str) -> list[float]:
        return [s["spark"][key] for s in self.spans if s["name"] == name and "spark" in s]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


class HostSentinel:
    """A fixed single-threaded numpy GEMM, timed before the run, between
    rounds and after it, so a throttled run can be recognised."""

    def __init__(self, n: int = 512):
        rng = np.random.default_rng(0)
        self._a = rng.standard_normal((n, n)).astype(np.float32)
        self._b = rng.standard_normal((n, n)).astype(np.float32)
        self.samples: list[float] = []

    def tick(self) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            self._a @ self._b
            best = min(best, time.perf_counter() - t0)
        self.samples.append(best * 1e3)
        return best * 1e3

    def summary(self) -> dict:
        s = self.samples
        return dict(
            first=round(s[0], 4),
            median=round(median(s), 4),
            max=round(max(s), 4),
            last=round(s[-1], 4),
            n=len(s),
        )


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class TreeMemory:
    """Peak resident memory of this process and all its descendants (the
    Python client, the JVM and the Python workers), sampled as the sum of
    each process's own peak (VmHWM) at every call to ``sample``."""

    def __init__(self):
        self.peak_kib = 0

    def sample(self) -> None:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kib = max(self.peak_kib, total)

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0
