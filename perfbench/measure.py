"""Measurement helpers: spans, percentiles, Spark's own execution counters,
streaming state, peak memory.

Spans are recorded from the benchmark's side, around its calls into each
layer of the program; nothing is installed inside the package. They stay in
memory and are written out when the run ends. A span's self time is its
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# --------------------------------------------------------------------------
# statistics


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0..100) with linear interpolation between the
    closest ranks, as ``numpy.percentile`` computes it by default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def geomean(values: list[float]) -> float:
    """Geometric mean: every operation weighs the same whatever its size."""
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n: int, candidates=(99, 95, 90, 75)) -> int | None:
    """The highest candidate percentile that leaves at least ten of ``n``
    samples beyond it, or None when even the lowest does not."""
    for q in candidates:
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    sid: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered(children.get(s.sid, []), s.start, s.end) for s in spans
    }


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and cost one
    attribute check per span. Spans opened on a thread nest under that
    thread's innermost open span, or under ``parent`` when given."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.bookkeeping_s = 0.0  # time the tracer spent on its own reads

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: Span | None = None):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        up = parent if parent is not None else (st[-1] if st else None)
        s = Span(
            next(self._ids),
            name,
            op if op is not None else (up.op if up else name),
            up.sid if up else None,
            time.perf_counter(),
        )
        st.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(s)

    def add_span(self, name: str, op: str, start: float, end: float) -> Span:
        """Record a span measured elsewhere (e.g. from Spark's own progress
        reports) and adopt the parentless spans of the same op inside it."""
        s = Span(next(self._ids), name, op, None, start, end)
        with self._lock:
            for c in self.spans:
                if c.op == op and c.parent is None and start <= c.start and c.end <= end:
                    c.parent = s.sid
            self.spans.append(s)
        return s

    @contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    def tree(self) -> list[dict]:
        """Every span as a record with its self time, ordered by start."""
        st = self_times(self.spans)
        return [
            {
                "id": s.sid,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "self_s": round(st[s.sid], 6),
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in sorted(self.spans, key=lambda s: (s.start, s.sid))
        ]

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        st = self_times(self.spans)
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.sid]
        return out


# --------------------------------------------------------------------------
# Spark's status store


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    scan_max_tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_skew: float = 0.0  # max / median task run time in the longest stage


class SparkProbe:
    """Reads per-job and per-stage counters from Spark's status store (works
    with ``spark.ui.enabled=false``) and the RDD cache state."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self.sc._jsc.statusTracker()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that already finished."""
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> set[int]:
        return set(int(j) for j in self._tracker.getJobIdsForGroup(group))

    def stats(self, job_ids) -> JobStats:
        out = JobStats()
        longest = None  # (run time ms, stage id, attempt id)
        seen = set()
        for jid in sorted(job_ids):
            try:
                job = self._store.job(jid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            out.jobs += 1
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage, never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                n, run = int(st.numTasks()), int(st.executorRunTime())
                out.tasks += n
                out.executor_run_s += run / 1000.0
                inp = int(st.inputBytes())
                out.input_bytes += inp
                if inp > 0:
                    out.scan_max_tasks = max(out.scan_max_tasks, n)
                out.shuffle_read_bytes += int(st.shuffleReadBytes())
                out.shuffle_write_bytes += int(st.shuffleWriteBytes())
                out.spill_bytes += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                if longest is None or run > longest[0]:
                    longest = (run, sid, int(st.attemptId()))
        if longest is not None:
            out.stage_skew = self._skew(longest[1], longest[2])
        return out

    def _skew(self, sid: int, attempt: int) -> float:
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = self._store.taskSummary(sid, attempt, qs)
        if dist.isEmpty():
            return 0.0
        run = dist.get().executorRunTime()
        med, top = float(run.apply(0)), float(run.apply(1))
        return top / med if med > 0 else 1.0

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def storage_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(infos[i].memSize()) for i in range(len(infos)))


def _proc_pids(jvm_pid: int | None) -> list[str]:
    return ["self"] + ([str(jvm_pid)] if jvm_pid else [])


def reset_peak_rss(jvm_pid: int | None) -> None:
    """Set the peak resident memory (VmHWM) of this process and the JVM back
    to their current resident memory, so a later read covers only what
    follows."""
    for pid in _proc_pids(jvm_pid):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM in /proc) of this Python process plus the
    JVM since their last reset, in MiB."""
    kib = 0
    for pid in _proc_pids(jvm_pid):
        with open(f"/proc/{pid}/status") as f:
            kib += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kib / 1024.0


def cpu_seconds() -> float:
    """User plus system CPU time, in seconds, used so far by this process and
    every process under it (the JVM and its Python workers), from /proc. On
    a virtual machine, time the hypervisor gives to other guests is not in
    it, unlike wall time."""
    ppid, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        pid = int(entry)
        ppid[pid] = int(fields[1])
        # utime, stime, and those of reaped children
        ticks[pid] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """Relative path → (size, mtime_ns) of every regular file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


# --------------------------------------------------------------------------
# streaming state


def state_totals(progress: list[dict]) -> dict[str, float] | None:
    """State-store figures of one streaming query from its batches'
    progress (``stateOperators`` of each): peak rows and memory held, commit
    time (Spark sums it over the state store's partitions), rows dropped as
    late, batches run. None for a query that holds no state."""
    ops = [p.get("stateOperators") or [] for p in progress]
    if not any(ops):
        return None
    return {
        "state.rows_total": max(sum(o["numRowsTotal"] for o in b) for b in ops),
        "state.memory_bytes": max(sum(o["memoryUsedBytes"] for o in b) for b in ops),
        "state.commit_s": sum(o["commitTimeMs"] for b in ops for o in b) / 1000.0,
        "state.rows_dropped_by_watermark": sum(
            o["numRowsDroppedByWatermark"] for b in ops for o in b
        ),
        "state.batches": len(progress),
    }


def progress_listener(spark):
    """Register a StreamingQueryListener that keeps every streaming query's
    progress reports, by query id; returns the dict it fills. Reports arrive
    through the listener bus: drain it (:meth:`SparkProbe.drain`) before
    reading."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen: dict[str, list[dict]] = {}

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.setdefault(str(event.progress.id), []).append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())
    return seen
