"""Shared pieces of the benchmark: the percentile rule, the span tracer
and its self-time table, the Spark job-group counter, the timed sink
wrapper, the side-by-side check runner, and what the runner and a
workload hand each other.

Everything here is plain Python; nothing starts a JVM on import.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# A percentile is reported only when at least this many samples lie
# beyond it: a p90 needs 100 samples, a p50 needs 20.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p < 100) of ``values``.

    Raises TooFewSamples unless at least MIN_BEYOND samples rank above
    the reported one, so a tail figure is never read off a handful of
    samples."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    vals = sorted(values)
    n = len(vals)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{p:g} of {n} samples has {n - rank} beyond it; needs {MIN_BEYOND}"
        )
    return vals[rank - 1]


def median(values) -> float:
    return float(statistics.median(values))


def interquartile_mean(values) -> float:
    """Mean of the middle half of ``values`` (a quarter cut from each
    end, rounded down)."""
    vals = sorted(values)
    cut = len(vals) // 4
    mid = vals[cut : len(vals) - cut]
    return sum(mid) / len(mid)


# -- tracing ------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float  # wall-clock seconds (time.time)
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder. Disabled, every call is a no-op, so the
    untraced run pays nothing but a branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()  # spans may come from several threads

    def _next_id(self) -> int:
        return len(self.spans)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time the body as a span, a child of the innermost open span.
        Yields its id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = self._next_id()
            parent = self._stack[-1] if self._stack else None
            # reserve the slot so children get higher ids than their parent
            self.spans.append(Span(sid, name, time.time(), math.nan, parent, op))
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: int | None = None,
        op: int | None = None,
    ) -> int | None:
        """Record a span timed by the caller, such as one that ran on
        another thread. Returns its id."""
        if not self.enabled:
            return None
        with self._lock:
            sid = self._next_id()
            self.spans.append(Span(sid, name, start, end, parent, op))
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed self time in seconds: each span's
    duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def self_time_table(spans: list[Span]) -> str:
    st = self_times(spans)
    counts: dict[str, int] = {}
    for s in spans:
        counts[s.name] = counts.get(s.name, 0) + 1
    total = sum(st.values()) or 1.0
    lines = [f"{'span':<36} {'count':>6} {'self_s':>10} {'share':>7}"]
    for name, sec in sorted(st.items(), key=lambda kv: -kv[1]):
        lines.append(
            f"{name:<36} {counts[name]:>6} {sec:>10.4f} {100 * sec / total:>6.1f}%"
        )
    return "\n".join(lines)


# -- counting what a public call costs ------------------------------------------


class JobCounter:
    """Counts the Spark jobs one call launches, through a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self):
        self._n += 1
        gid = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))


class TimedSink:
    """Wraps one ExactlyOnceParquetSink object's public write calls to
    time them and, in traced runs, count commits and dropped replays. The
    sink object itself is unchanged apart from the two bound methods."""

    def __init__(self, sink, tracer: Tracer):
        self.sink = sink
        self.tracer = tracer
        self.write_ms: list[float] = []
        self.local_ms: list[float] = []
        self.epochs_committed = 0
        self.replays_dropped = 0
        self._in_call_ms = 0.0
        write, local = sink.write_batch, sink.write_batch_local

        def write_batch(df, epoch_id):
            self._call(write, "sink.write_batch", self.write_ms, df, epoch_id)

        def write_batch_local(pdf, epoch_id):
            self._call(local, "sink.write_batch_local", self.local_ms, pdf, epoch_id)

        sink.write_batch = write_batch
        sink.write_batch_local = write_batch_local

    def _call(self, fn, name, bucket, data, epoch_id):
        # the replay probe touches the file system: traced runs only
        if self.tracer.enabled:
            if self.sink.is_committed(epoch_id):
                self.replays_dropped += 1
            else:
                self.epochs_committed += 1
        t0 = time.time()
        with self.tracer.span(name, op=epoch_id):
            fn(data, epoch_id)
        t1 = time.time()
        bucket.append((t1 - t0) * 1000.0)
        self._in_call_ms += (t1 - t0) * 1000.0

    def rows_committed(self) -> int:
        return sum(
            count_parquet_rows(self.sink.epoch_dir(e))
            for e in self.sink.committed_epochs()
        )

    def take_ms(self) -> float:
        """Milliseconds spent inside the wrapped calls since the last take."""
        ms, self._in_call_ms = self._in_call_ms, 0.0
        return ms


class CpuClock:
    """CPU seconds used so far by this process and every process below it
    (the Spark JVM, Python workers): user plus system time from /proc,
    with that of children already reaped.

    The cores are shared with other tenants, so wall time also counts
    the time our threads wait for a core, which varies with the
    neighbours and not with the program; CPU time leaves that out (and
    time stolen by the hypervisor with it). It also leaves out time spent
    blocked on I/O or locks, and counts work done in parallel once per
    thread."""

    def __init__(self):
        self.root = os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")
        self._ppid: dict[int, int] = {}  # every process seen: pid -> parent pid

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()
        except OSError:
            return None  # ended since the listing

    def __call__(self) -> float:
        live = {int(n) for n in os.listdir("/proc") if n.isdigit()}
        for pid in list(self._ppid):
            if pid not in live:
                del self._ppid[pid]
        for pid in live - self._ppid.keys():
            st = self._stat(pid)
            if st is not None:
                self._ppid[pid] = int(st[1])
        children: dict[int, list[int]] = {}
        for pid, ppid in self._ppid.items():
            children.setdefault(ppid, []).append(pid)
        ticks, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            st = self._stat(pid)
            if st is not None:
                ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
            todo.extend(children.get(pid, ()))
        return ticks / self.tick


def run_checks(tracer: Tracer, checks: dict) -> list:
    """Run independent correctness checks side by side, each a
    no-argument callable returning a bool, and record each as a span.
    Their Spark jobs are small, so they overlap well."""
    from concurrent.futures import ThreadPoolExecutor

    def one(item):
        name, fn = item
        t = time.time()
        ok = bool(fn())
        tracer.add(name, t, time.time())
        return ok

    with ThreadPoolExecutor(len(checks)) as pool:
        return list(pool.map(one, checks.items()))


def count_parquet_rows(directory: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for root, _dirs, files in os.walk(directory):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(root, f)).num_rows
    return n


def process_start_time() -> float:
    """Wall-clock start of this process (Linux /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


# -- one run -------------------------------------------------------------------


@dataclass
class Context:
    """What a workload receives: the session, the tracer, its seed and
    measuring time, a scratch directory inside the checkout, its sizes
    from spec.json, and the CPU clock of this process and the JVM."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    workdir: str
    params: dict
    cpu: CpuClock = field(default_factory=CpuClock)


@dataclass
class Outcome:
    """What a workload returns. ``e2e`` holds the end-to-end values,
    ``layers`` the per-layer values it measured (exactly the ones
    spec.json assigns to it; a traced run prints the others as 0),
    ``t_first_op`` the wall-clock start of its first timed operation,
    which ends set-up."""

    e2e: dict
    layers: dict
    attempted: int
    failed: int
    correct: bool
    t_first_op: float
