"""Per-layer spans read back from Spark's in-process status stores.

A span is one named step (``geotag.scan``, ``graph.triangle_counts``,
...).  Its Spark work runs under its own job group, so after the step
the status stores (the same data the web UI shows; they work with the
UI disabled) give the step's task time, CPU, GC, shuffle, spill and
Python-worker bytes.  ``driver_s`` is the span's wall time minus the
time any stage of the group was running: collects, plan construction
and numpy finishes on the driver.

``RssSampler`` follows the benchmark's own process tree (this Python
process, the driver JVM it launched and that JVM's Python workers)
through ``/proc`` and sums each process's peak resident memory.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

MB = 1024.0 * 1024.0

_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"


@dataclass
class Span:
    """One traced step: wall clock bounds plus what the stores reported."""

    name: str
    group: str
    t0: float = 0.0
    t1: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    py_in_mb: float = 0.0
    py_out_mb: float = 0.0
    busy_s: float = 0.0
    jobs: int = 0

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def driver_s(self) -> float:
        return max(0.0, self.wall_s - self.busy_s)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _size_bytes(text: str | None) -> float:
    """Bytes from a formatted size metric (``'total (...)\\n15.6 MiB (...)'``)."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class Tracer:
    """Runs steps under named job groups and reads their metrics back.

    With ``enabled=False`` a step is only timed: no job group is set and
    no store is read, which is how the untraced (end-to-end) runs work.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = 0
        sc = spark.sparkContext
        self._sc = sc
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    @contextmanager
    def span(self, name: str):
        """Time the body; when tracing, run it in the job group ``name#k``."""
        self._seq += 1
        sp = Span(name=name, group=f"{name}#{self._seq}")
        if self.enabled:
            self._sc.setJobGroup(sp.group, name, False)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            if self.enabled:
                self._sc.setJobGroup("perfbench.untraced", "untraced", False)
                self.spans.append(sp)

    @contextmanager
    def paused(self):
        """Run the body untraced (warm-up passes are set-up, not layers)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def collect(self) -> None:
        """Fill every pending span from the status stores (call between
        iterations, outside timed regions, so the stores never evict
        a group before it is read)."""
        from py4j.protocol import Py4JJavaError

        pending = {sp.group: sp for sp in self.spans if sp.jobs == 0}
        if not pending:
            return
        conv = self._conv
        store = self._sc._jsc.sc().statusStore()
        job_group: dict[int, str] = {}
        for job in conv.asJava(store.jobsList(None)):
            g = job.jobGroup()
            if not g.isDefined() or g.get() not in pending:
                continue
            sp = pending[g.get()]
            sp.jobs += 1
            job_group[int(job.jobId())] = sp.group
            busy = []
            for sid in conv.asJava(job.stageIds()):
                try:
                    st = store.lastStageAttempt(int(sid))
                except Py4JJavaError:   # evicted, or skipped and never submitted
                    continue
                if not st.submissionTime().isDefined():
                    continue
                sp.run_s += st.executorRunTime() / 1e3
                sp.cpu_s += st.executorCpuTime() / 1e9
                sp.gc_s += st.jvmGcTime() / 1e3
                sp.shuffle_read_mb += st.shuffleReadBytes() / MB
                sp.shuffle_write_mb += st.shuffleWriteBytes() / MB
                sp.spill_mb += st.diskBytesSpilled() / MB
                a = st.submissionTime().get().getTime() / 1e3
                b = (st.completionTime().get().getTime() / 1e3
                     if st.completionTime().isDefined() else sp.t1)
                busy.append((max(a, sp.t0), min(b, sp.t1)))
            sp.busy_s += _union_length([iv for iv in busy if iv[1] > iv[0]])
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql.executionsList()):
            groups = {job_group.get(int(j)) for j in conv.asJava(ex.jobs()).keySet()}
            groups.discard(None)
            if len(groups) != 1:
                continue
            sp = pending[groups.pop()]
            values = conv.asJava(sql.executionMetrics(ex.executionId()))
            seen = set()
            for m in conv.asJava(ex.metrics()):
                acc = int(m.accumulatorId())
                if acc in seen or m.name() not in (_PY_IN, _PY_OUT):
                    continue
                seen.add(acc)
                mb = _size_bytes(values.get(acc)) / MB
                if m.name() == _PY_IN:
                    sp.py_in_mb += mb
                else:
                    sp.py_out_mb += mb
        for sp in pending.values():
            sp.jobs = max(sp.jobs, 1)   # read once, even if it ran no job

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]


def descendants() -> list[int]:
    """PIDs of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (MB) of this process and its descendants: the
    sum over processes of each one's own peak (``VmHWM``), polled so that
    processes which exit before the end still count."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        for pid in [os.getpid(), *descendants()]:
            kb = _peak_rss_kb(pid)
            if kb > self._peaks.get(pid, 0):
                self._peaks[pid] = kb

    @property
    def peak_mb(self) -> float:
        return sum(self._peaks.values()) / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail(values: list[float], beyond: int = 10) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least
    ``beyond`` samples above it; (None, None) with too few samples."""
    n = len(values)
    if n <= beyond:
        return None, None
    q = 100.0 * (n - beyond - 1) / (n - 1)
    return q, percentile(values, q)
