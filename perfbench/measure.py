"""Measurement plumbing shared by the workloads.

Everything here observes the system from outside: it times calls into the
package's public functions and reads Spark's public status and progress
APIs. Nothing in ``watermill_spark`` is modified or monkey-patched.

- ``Session``: owns the SparkSession (made by ``watermill_spark.session``)
  and the JVM behind it, so a run can restart the session to time set-up
  and can stop every process it started.
- ``Tracer``: in-memory spans at layer boundaries; self time per layer.
- ``WatchedPubSub``: a transport decorator that records every publish call
  (time, files and bytes it committed) and, when tracing, its span.
- ``exec_totals``: stage-level work of a set of Spark jobs.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from watermill_spark.sources.decorator import ForwardingPubSubDecorator


def quantile(values, q: float) -> float:
    """Harrell–Davis estimate of the ``q`` quantile; 0.0 for no samples.

    A weighted mean of all order statistics, with weights from a
    Beta(q(n+1), (1-q)(n+1)) distribution. On a few samples (14 queries, 2
    micro-batches) it does not jump when two neighbouring values swap
    places, as a one- or two-value sample quantile does; on thousands of
    samples it equals the sample quantile."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(weights @ x)


class Session:
    """The run's SparkSession and its JVM."""

    def __init__(self, app: str):
        self.app = app
        self.spark = None

    def start(self) -> float:
        """(Re)start the session; returns seconds taken."""
        from watermill_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(self.app)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop the session, then end the JVM and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def calibrate(spark) -> dict[str, float]:
    """The host-speed probes of the repository's ``bench.py`` (same work,
    one shot each), so runs on different hosts can be put side by side."""
    arr = np.random.default_rng(0).random(1 << 23)
    t0 = time.perf_counter()
    np.sort(arr, kind="quicksort")
    py = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(1 << 28).selectExpr("sum(id * 2) AS s").collect()
    jvm = time.perf_counter() - t0
    return {"calib_py_sort_sec": round(py, 4), "calib_jvm_agg_sec": round(jvm, 4)}


# -- Spark job and stage accounting ------------------------------------------


def job_ids(spark, group: str) -> set[int]:
    """Jobs Spark ran under a job group. A streaming query's micro-batches
    run under the group named by its ``runId``; the benchmark names its own
    groups with ``set_group``."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def exec_totals(spark, jobs) -> dict[str, float]:
    """Stage-level totals over ``jobs``: stages run, task run time, shuffle
    bytes, spill, and task skew (max ÷ median task run time per stage,
    averaged over stages weighted by their run time)."""
    from pyspark import SparkContext

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    gw = SparkContext._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    tracker = sc.statusTracker()
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = dict.fromkeys(
        ("stages", "task_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0
    )
    skew_w = skew_sum = 0.0
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # stage never ran (skipped) or was evicted
            continue
        run_ms = float(st.executorRunTime())
        if st.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        out["task_s"] += run_ms / 1000.0
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if st.numTasks() > 1 and run_ms > 0:
            summary = store.taskSummary(sid, st.attemptId(), qs)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                if med > 0:
                    skew_sum += run_ms * mx / med
                    skew_w += run_ms
    out["task_skew"] = skew_sum / skew_w if skew_w else 1.0
    out["jobs"] = float(len(jobs))
    return out


# -- streaming progress --------------------------------------------------------


def progress_records(query) -> list[dict]:
    """The query's retained StreamingQueryProgress records as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def progress_start_time(p: dict) -> float:
    """Wall-clock (epoch s) at which a progress record's trigger started."""
    return np.datetime64(p["timestamp"].rstrip("Z"), "ms").astype("int64") / 1000.0


def progress_end_time(p: dict) -> float:
    """Wall-clock (epoch s) at which a progress record's trigger finished."""
    return progress_start_time(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def stream_layers(batches: list[dict]) -> dict[str, float]:
    """Median per-batch durations of the stream engine's steps and the
    stateful operator's counters, over micro-batches that read data."""
    def med(getter):
        vals = [getter(p) for p in batches]
        vals = [v for v in vals if v is not None]
        return float(statistics.median(vals)) if vals else 0.0

    d = lambda k: (lambda p: p["durationMs"].get(k))  # noqa: E731
    st = lambda k: (lambda p: p["stateOperators"][0].get(k) if p["stateOperators"] else None)  # noqa: E731
    return {
        "stream.batch_p50_ms": quantile([p["durationMs"]["triggerExecution"] for p in batches], 0.5),
        "stream.batch_p90_ms": quantile([p["durationMs"]["triggerExecution"] for p in batches], 0.9),
        "stream.wal_commit_ms": med(d("walCommit")),
        "stream.commit_offsets_ms": med(d("commitOffsets")),
        "stream.latest_offset_ms": med(d("latestOffset")),
        "stream.query_planning_ms": med(d("queryPlanning")),
        "state.instances": med(st("numStateStoreInstances")),
        "state.commit_ms": med(st("commitTimeMs")),
        "state.update_ms": med(st("allUpdatesTimeMs")),
        "state.rows_total": med(st("numRowsTotal")),
        "state.memory_bytes": med(st("memoryUsedBytes")),
    }


def stream_window_layers(spark, ps: "WatchedPubSub", jobs, batches: list[dict],
                         w0: float, w1: float) -> dict[str, float]:
    """Per-layer numbers of a streaming query over the window [w0, w1):
    ``stream_layers`` of its micro-batches, Spark jobs per micro-batch
    (``jobs``: the jobs of the query's ``runId`` group that ran in the
    window), the transport's publish totals and the stage work of ``jobs``."""
    layers = stream_layers(batches)
    layers["stream.jobs_per_batch"] = len(jobs) / max(1, len(batches))
    pub = ps.publish_totals(w0, w1)
    layers.update({
        "sources.publish_s": pub["seconds"],
        "sources.publish_calls": pub["calls"],
        "sources.files_written": pub["files"],
        "sources.bytes_written": pub["bytes"],
    })
    layers.update({f"exec.{k}": v for k, v in exec_totals(spark, jobs).items()})
    return layers


# -- tracing -------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans recorded in memory at layer boundaries, written out at the end.

    Spans opened on one thread nest under that thread's open span. While
    ``enabled`` is false, ``span`` records nothing."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(next(self._ids), stack[-1].id if stack else None, layer, name,
                  time.perf_counter(), attrs=attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time not covered by child spans."""
        child = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - child.get(sp.id, 0.0)
        return {k: round(v, 4) for k, v in sorted(out.items())}

    def total(self, layer: str, name: str | None = None) -> float:
        return sum(sp.end - sp.start for sp in self.spans
                   if sp.layer == layer and (name is None or sp.name == name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")


def traced_middleware(tracer: Tracer, name: str, mw):
    """Wrap the HandlerFn a middleware returns in a ``middleware`` span."""

    def wrap(fn):
        inner = mw(fn)

        def run(df):
            with tracer.span("middleware", name):
                return inner(df)

        return run

    return wrap


@dataclass
class PublishCall:
    topic: str
    start: float  # epoch seconds
    end: float
    files: list[str]
    bytes: int


class WatchedPubSub(ForwardingPubSubDecorator):
    """Records each publish call to a ParquetPubSub: when it returned (the
    moment its files are committed in the topic) and which files it added.
    With tracing on, publish and streaming-subscribe calls also become
    spans."""

    def __init__(self, inner, tracer: Tracer):
        super().__init__(inner)
        self.tracer = tracer
        self.calls: list[PublishCall] = []
        self._lock = threading.Lock()

    def _files(self, topic: str) -> set[str]:
        d = self.inner._dir(topic)
        return {f for f in os.listdir(d) if f.endswith(".parquet")} if os.path.isdir(d) else set()

    def publish(self, topic, df):
        with self._lock:
            before = self._files(topic)
            t0 = time.time()
            with self.tracer.span("sources", "publish", topic=topic):
                self.inner.publish(topic, df)
            t1 = time.time()
            new = [os.path.join(self.inner._dir(topic), f) for f in sorted(self._files(topic) - before)]
            self.calls.append(PublishCall(topic, t0, t1, new, sum(os.path.getsize(p) for p in new)))

    def subscribe_stream(self, topic, max_files_per_trigger=None):
        with self.tracer.span("sources", "subscribe_stream", topic=topic):
            return self.inner.subscribe_stream(topic, max_files_per_trigger)

    def publish_totals(self, since: float, until: float, topic: str | None = None) -> dict:
        calls = [c for c in self.calls if since <= c.start < until and topic in (None, c.topic)]
        return {
            "calls": len(calls),
            "seconds": sum(c.end - c.start for c in calls),
            "files": sum(len(c.files) for c in calls),
            "bytes": sum(c.bytes for c in calls),
        }
