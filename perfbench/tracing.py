"""Tracing for the benchmark's traced run: spans from timing shims around the
engine's public entry points, streaming trigger phases from a
``StreamingQueryListener``, and task metrics from Spark's event log.

The shims call through unchanged and record only inside a client operation,
so the oracle's checks between operations leave no spans; spans stay in
memory until the run ends, when ``dump`` writes them out as JSON.
A span opened on a thread with no open span (a streaming ``foreachBatch``
callback) takes the client's innermost open span as its parent -- the
``await_all`` or ``execute`` it runs under -- so every span of one epoch or
one query shares that operation's id, and the client's wait excludes the
work done for it.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from flink_cdc_fluss_quickstart_spark.sql_frontend import Engine, IncrementalAggView
from flink_cdc_fluss_quickstart_spark.streaming.pk_table import MANIFEST, PKTable

# span name -> (class, method) of the shimmed public entry points
SHIMS = {
    "sql_frontend.execute": (Engine, "execute"),
    "sql_frontend.await": (Engine, "await_all"),
    "sql_frontend.query": (Engine, "query"),
    "sql_frontend.refresh": (IncrementalAggView, "refresh"),
    "pk_table.merge": (PKTable, "merge"),
    "pk_table.snapshot": (PKTable, "snapshot"),
    "pk_table.lookup": (PKTable, "lookup"),
    "pk_table.compact": (PKTable, "compact"),
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)


def manifest(store: PKTable) -> dict:
    with open(os.path.join(store.path, MANIFEST)) as f:
        return json.load(f)


def dir_stats(dirs) -> tuple[int, int]:
    files = size = 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class NullTracer:
    """The untraced path: the same calls, no recording."""

    active = False

    @contextmanager
    def op(self, name: str):
        yield


class Tracer:
    active = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.windows: list[tuple[str, float, float]] = []  # wall-clock
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: tuple[int, list[int]] | None = None  # (op id, client's span stack)
        self._restore: list[tuple[type, str, object]] = []
        self.merge_stats = defaultdict(float)
        self.query_stats = defaultdict(lambda: defaultdict(float))  # batch query -> stat

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        op = self._op
        client = op[1][-1:] if op else []  # the client's innermost open span
        parent = stack[-1] if stack else (client[0] if client else None)
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, op[0] if op else None, attrs)
                )

    @contextmanager
    def op(self, name: str):
        """One client operation (a round, a read, a query): the root span
        that callbacks on other threads attach to."""
        sid = next(self._ids)
        stack = self._stack()
        stack.append(sid)
        self._op = (sid, stack)
        start, wall = time.perf_counter(), time.time()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self._op = None
            with self._lock:
                self.spans.append(Span(sid, name, start, end, None, sid))
                self.windows.append((name, wall, time.time()))

    @contextmanager
    def window(self, label: str):
        wall = time.time()
        try:
            yield
        finally:
            self.windows.append((label, wall, time.time()))

    # -- shims -------------------------------------------------------------

    def install(self) -> None:
        for name, (cls, meth) in SHIMS.items():
            original = cls.__dict__[meth]
            shim = self._merge_shim(original) if name == "pk_table.merge" else (
                self._shim(name, original))
            setattr(cls, meth, shim)
            self._restore.append((cls, meth, original))

    def uninstall(self) -> None:
        for cls, meth, original in reversed(self._restore):
            setattr(cls, meth, original)
        self._restore.clear()

    def _shim(self, name: str, original):
        tracer = self

        @functools.wraps(original)
        def shim(*args, **kwargs):
            if tracer._op is None:  # the oracle's checks, between operations
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        return shim

    def _merge_shim(self, original):
        tracer = self

        @functools.wraps(original)
        def shim(store, changes, batch_id=None, writer_id="default", **kwargs):
            if tracer._op is None:
                return original(store, changes, batch_id, writer_id, **kwargs)
            before = manifest(store)
            noop = batch_id is not None and before["txn"].get(writer_id, -1) >= batch_id
            with tracer.span("pk_table.merge", table=os.path.basename(store.path),
                             noop=noop):
                result = original(store, changes, batch_id, writer_id, **kwargs)
            after = manifest(store)
            if after["version"] > before["version"]:
                _, size = dir_stats([os.path.join(store.path, f"v{after['version']}")])
                with tracer._lock:
                    tracer.merge_stats["bytes_written"] += size
            return result

        return shim

    def dump(self, path: str) -> None:
        """Write every span, as recorded, to ``path`` (JSON)."""
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    # -- reductions ----------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.by_name(name))

    def self_time(self, name: str) -> float:
        """Span time minus the part of it that child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        total = 0.0
        for s in self.by_name(name):
            covered, cur = 0.0, s.start
            for a, b in sorted(children.get(s.id, ())):
                a, b = max(a, cur), min(b, s.end)
                if b > a:
                    covered += b - a
                    cur = b
            total += (s.end - s.start) - covered
        return total


class StreamingStats:
    """Sums the micro-batch loop's trigger phases from query progress."""

    KEYS = ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
            "commitOffsets", "latestOffset", "getBatch")

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with stats.lock:
                    stats.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                with stats.lock:
                    stats.batches += 1
                    stats.input_rows += p.numInputRows
                    for k in StreamingStats.KEYS:
                        stats.ms[k] += p.durationMs.get(k, 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with stats.lock:
                    stats.terminated += 1

        self.lock = threading.Lock()
        self.started = self.terminated = self.batches = self.input_rows = 0
        self.ms = defaultdict(float)
        self.spark = spark
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def close(self, timeout: float = 20.0) -> None:
        """Wait for the asynchronous listener bus to deliver every started
        query's termination, then detach."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.05)
        self.spark.streams.removeListener(self.listener)


def codegen_ms(spark) -> float:
    """Approximate codegen compile ms so far, from Spark's compilation-time
    histogram: count x reservoir mean, so deltas are estimates."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = h.getCount()
    return h.getSnapshot().getMean() * n if n else 0.0


def plan_ms(df) -> float:
    """Analysis + optimizer + physical planning of ``df``'s QueryExecution
    (forcing ``executedPlan`` so the phases exist)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def event_log_metrics(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Jobs, stages, tasks, executor CPU, GC, shuffle and spill of the Spark
    work that started inside any of ``windows`` (wall-clock seconds), read
    from the uncompressed event log after the context stopped."""
    def inside(ms) -> bool:
        t = ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    out = defaultdict(float)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and inside(ev["Submission Time"]):
                    out["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if inside(info.get("Submission Time", 0)):
                        out["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if not inside(ev["Task Info"]["Launch Time"]):
                        continue
                    m = ev.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics", {})
                    out["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                                  + rd.get("Local Bytes Read", 0))
                    out["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    return out
