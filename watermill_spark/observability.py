"""Metrics + logging (SURVEY.md §2.A #42-44).

- Router metrics ≙ `components/metrics/builder.go:52-56` Prometheus
  decorators: counters (messages in/out/errors) + latency. Spark-native
  form: a `StreamingQueryListener` for per-batch rows/s and duration, and
  `df.observe()` for in-plan counters that cost nothing extra (computed
  during the pass, no second job).
- CaptureLogger ≙ `log.go` CaptureLoggerAdapter: a log-assert test helper.
- UUID/ULID generators ≙ `uuid.go:25-37`.
"""

from __future__ import annotations

import logging
import os
import threading
import time
import uuid as _uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # StreamingQueryListener import path (PySpark >= 3.4)
    from pyspark.sql.streaming import StreamingQueryListener
except ImportError:  # pragma: no cover
    StreamingQueryListener = object  # type: ignore[misc,assignment]


@dataclass
class BatchMetric:
    query_name: str
    batch_id: int
    num_input_rows: int
    input_rows_per_sec: float
    duration_ms: int
    # stateful-operator footprint (0 for stateless queries): summed over
    # the query's state operators from StreamingQueryProgress — the
    # bounded-state evidence a watermarked query must show at scale
    state_rows: int = 0
    state_bytes: int = 0
    watermark: str = ""


class RouterMetricsListener(StreamingQueryListener):
    """Collects per-batch throughput/latency for every router query —
    the `handler_execution_time_seconds` / messages counters analog.
    Export: scrape `snapshot()` from any prometheus/statsd bridge."""

    def __init__(self):
        self.batches: list[BatchMetric] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        try:
            duration = int(p.durationMs.get("triggerExecution", 0))
        except Exception:  # noqa: BLE001
            duration = 0
        state_rows = state_bytes = 0
        try:
            for op in p.stateOperators or []:
                state_rows += int(op.numRowsTotal or 0)
                state_bytes += int(op.memoryUsedBytes or 0)
        except Exception:  # noqa: BLE001 - shape varies across versions
            pass
        try:
            watermark = str(p.eventTime.get("watermark", "") or "")
        except Exception:  # noqa: BLE001
            watermark = ""
        self.batches.append(
            BatchMetric(
                query_name=p.name or p.id,
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                input_rows_per_sec=p.inputRowsPerSecond or 0.0,
                duration_ms=duration,
                state_rows=state_rows,
                state_bytes=state_bytes,
                watermark=watermark,
            )
        )

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def snapshot(self) -> dict:
        total = sum(b.num_input_rows for b in self.batches)
        ms = sum(b.duration_ms for b in self.batches)
        return {
            "messages_total": total,
            "batches_total": len(self.batches),
            "processing_ms_total": ms,
            "throughput_msgs_per_sec": (total / (ms / 1000.0)) if ms else 0.0,
        }


def observe_counts(df: DataFrame, observation="wm_metrics") -> DataFrame:
    """In-plan counters via df.observe(): message count + error count ride
    the existing pass (no extra job) — `publish_time_seconds` counter
    analog. Pass a `pyspark.sql.Observation` to read values back in batch
    code (`obs.get`), or a name string for streaming queries (values arrive
    in StreamingQueryProgress.observedMetrics[name])."""
    from watermill_spark.streaming.router import ERROR_COL

    err = (
        F.sum(F.when(F.col(ERROR_COL).isNotNull(), 1).otherwise(0)).cast("long")
        if ERROR_COL in df.columns
        else F.lit(0).cast("long")
    )
    return df.observe(
        observation, F.count(F.lit(1)).alias("n_messages"), err.alias("n_errors")
    )


# -- Prometheus export bridge ----------------------------------------------
def _prom_label_escape(value: str) -> str:
    """Escape a label value per the Prometheus text exposition format 0.0.4:
    backslash, double-quote, and newline must be backslash-escaped or
    scrapers reject the whole exposition."""
    return value.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def prometheus_text(listener: RouterMetricsListener) -> str:
    """Render the listener's metrics in Prometheus text exposition format
    0.0.4 — the same series the reference registers
    (`components/metrics/builder.go:52-56`): per-handler message counters
    and execution-time totals, labeled by query name."""
    per_query: dict[str, dict[str, float]] = {}
    for b in listener.batches:
        q = per_query.setdefault(
            _prom_label_escape(str(b.query_name)),
            {"messages": 0, "batches": 0, "ms": 0},
        )
        q["messages"] += b.num_input_rows
        q["batches"] += 1
        q["ms"] += b.duration_ms
    lines = [
        "# HELP watermill_messages_received_total Messages consumed per handler query",
        "# TYPE watermill_messages_received_total counter",
    ]
    for name, q in sorted(per_query.items()):
        lines.append(
            f'watermill_messages_received_total{{handler_name="{name}"}} '
            f"{int(q['messages'])}"
        )
    lines += [
        "# HELP watermill_handler_execution_time_seconds_total Cumulative batch execution time per handler query",
        "# TYPE watermill_handler_execution_time_seconds_total counter",
    ]
    for name, q in sorted(per_query.items()):
        lines.append(
            f'watermill_handler_execution_time_seconds_total{{handler_name="{name}"}} '
            f"{q['ms'] / 1000.0:.6f}"
        )
    lines += [
        "# HELP watermill_batches_total Micro-batches processed per handler query",
        "# TYPE watermill_batches_total counter",
    ]
    for name, q in sorted(per_query.items()):
        lines.append(
            f'watermill_batches_total{{handler_name="{name}"}} {int(q["batches"])}'
        )
    return "\n".join(lines) + "\n"


def serve_metrics_http(
    listener: RouterMetricsListener, port: int = 0, addr: str = "127.0.0.1"
):
    """`components/metrics/http.go` CreateRegistryAndServeHTTP analog:
    serve `prometheus_text(listener)` at /metrics on a daemon thread.

    Returns (server, actual_port); call `server.shutdown()` to stop. Uses
    only the stdlib http.server — no prometheus client dependency. Runs on
    the DRIVER (metrics are driver-side listener state), which is also
    where a Spark-cluster scrape target belongs.
    """
    import http.server
    import threading

    class _Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path.rstrip("/") not in ("", "/metrics"):
                self.send_response(404)
                self.end_headers()
                return
            body = prometheus_text(listener).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    server = http.server.ThreadingHTTPServer((addr, port), _Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, server.server_address[1]


# -- transport metrics decorators -------------------------------------------
# Prometheus default histogram buckets (client_golang prometheus.DefBuckets)
DEF_BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)


class PubSubMetrics:
    """Shared sink for the publisher/subscriber metrics decorators — the
    per-endpoint half of `components/metrics` (`publisher.go:27-66`,
    `subscriber.go:24-57`, series names `builder.go`).

    Batch-granular by design: this engine's unit of delivery is the
    micro-batch, so `publish_time_seconds` observes one duration per
    published batch (labels publisher_name/topic/success — the reference's
    handler_name label lives in ctx we deliberately strip before publish),
    and the `*_messages_*_total` counters count ROWS when the decorator is
    created with ``count_rows=True`` (one extra count job per batch —
    opt-in) and BATCHES otherwise.
    """

    def __init__(self):
        self._lock = threading.Lock()
        # histogram: labels -> [bucket counts..., +Inf count, sum]
        self._publish_hist: dict[tuple, list] = {}
        self._counters: dict[tuple, float] = {}  # (series, labels) -> value

    def observe_publish(self, publisher_name: str, topic: str, success: bool,
                        seconds: float) -> None:
        key = (publisher_name, topic, "true" if success else "false")
        with self._lock:
            h = self._publish_hist.setdefault(
                key, [0] * (len(DEF_BUCKETS) + 1) + [0.0]
            )
            for i, ub in enumerate(DEF_BUCKETS):
                if seconds <= ub:
                    h[i] += 1
            h[len(DEF_BUCKETS)] += 1  # +Inf
            h[-1] += seconds

    def inc(self, series: str, labels: tuple, n: float = 1) -> None:
        with self._lock:
            self._counters[(series, labels)] = (
                self._counters.get((series, labels), 0) + n
            )

    def counter(self, series: str, labels: tuple) -> float:
        return self._counters.get((series, labels), 0)

    def prometheus_text(self) -> str:
        """Exposition format 0.0.4 for the decorator series (escaped)."""
        e = _prom_label_escape
        lines = [
            "# HELP watermill_publish_time_seconds Batch publish duration per publisher/topic",
            "# TYPE watermill_publish_time_seconds histogram",
        ]
        with self._lock:
            for (pname, topic, ok), h in sorted(self._publish_hist.items()):
                base = f'publisher_name="{e(pname)}",topic="{e(topic)}",success="{ok}"'
                for i, ub in enumerate(DEF_BUCKETS):
                    lines.append(
                        f'watermill_publish_time_seconds_bucket{{{base},le="{ub}"}} {h[i]}'
                    )
                lines.append(
                    f'watermill_publish_time_seconds_bucket{{{base},le="+Inf"}} '
                    f"{h[len(DEF_BUCKETS)]}"
                )
                lines.append(
                    f"watermill_publish_time_seconds_sum{{{base}}} {h[-1]:.6f}"
                )
                lines.append(
                    f"watermill_publish_time_seconds_count{{{base}}} "
                    f"{h[len(DEF_BUCKETS)]}"
                )
            series_meta = {
                "watermill_publisher_messages_published_total": "Rows published (count_rows decorators)",
                "watermill_publisher_batches_total": "Batches published",
                "watermill_subscriber_messages_received_total": "Rows received (count_rows decorators)",
                "watermill_subscriber_batches_total": "Batches subscribed",
            }
            by_series: dict[str, list[str]] = {}
            for (series, labels), v in sorted(self._counters.items()):
                lbl = ",".join(
                    f'{k}="{e(str(val))}"' for k, val in labels
                )
                by_series.setdefault(series, []).append(
                    f"{series}{{{lbl}}} {int(v) if v == int(v) else v}"
                )
            for series, help_txt in series_meta.items():
                if series in by_series:
                    lines.append(f"# HELP {series} {help_txt}")
                    lines.append(f"# TYPE {series} counter")
                    lines.extend(by_series[series])
        return "\n".join(lines) + "\n"


def metrics_publisher_decorator(metrics: PubSubMetrics, publisher_name: str,
                                count_rows: bool = False):
    """PublisherPrometheusMetricsDecorator analog
    (`components/metrics/publisher.go:18-66`): returns a decorator for
    Router.add_publisher_decorators (or direct wrapping) that observes
    publish duration + success per topic, and optionally row counts."""
    from watermill_spark.sources.decorator import ForwardingPubSubDecorator

    class _MetricsPublisher(ForwardingPubSubDecorator):
        def publish(self, topic, df):
            n = df.count() if count_rows else None
            start = time.monotonic()
            try:
                self.inner.publish(topic, df)
            except Exception:
                metrics.observe_publish(
                    publisher_name, topic, False, time.monotonic() - start
                )
                raise
            metrics.observe_publish(
                publisher_name, topic, True, time.monotonic() - start
            )
            labels = (("publisher_name", publisher_name), ("topic", topic))
            metrics.inc("watermill_publisher_batches_total", labels)
            if n is not None:
                metrics.inc(
                    "watermill_publisher_messages_published_total", labels, n
                )

    return _MetricsPublisher


def metrics_subscriber_decorator(metrics: PubSubMetrics, subscriber_name: str,
                                 count_rows: bool = False):
    """SubscriberPrometheusMetricsDecorator analog
    (`components/metrics/subscriber.go:16-57`). Batch subscribes only —
    streaming row counts come free from RouterMetricsListener (progress
    events), so subscribe_stream passes through unobserved."""
    from watermill_spark.sources.decorator import ForwardingPubSubDecorator

    class _MetricsSubscriber(ForwardingPubSubDecorator):
        def subscribe(self, topic):
            df = self.inner.subscribe(topic)
            labels = (("subscriber_name", subscriber_name), ("topic", topic))
            metrics.inc("watermill_subscriber_batches_total", labels)
            if count_rows:
                metrics.inc(
                    "watermill_subscriber_messages_received_total",
                    labels,
                    df.count(),
                )
            return df

    return _MetricsSubscriber


# -- logging ---------------------------------------------------------------
class CaptureLogger(logging.Handler):
    """CaptureLoggerAdapter analog (`log.go:189-272`): records every record
    for assertions in tests."""

    def __init__(self):
        super().__init__()
        self.records: list[logging.LogRecord] = []

    def emit(self, record: logging.LogRecord) -> None:
        self.records.append(record)

    def has(self, level: int, needle: str) -> bool:
        return any(
            r.levelno == level and needle in r.getMessage() for r in self.records
        )


def get_logger(name: str = "watermill_spark") -> logging.Logger:
    """StdLoggerAdapter analog: leveled, field-capable via `extra`."""
    logger = logging.getLogger(name)
    if not logger.handlers:
        h = logging.StreamHandler()
        h.setFormatter(
            logging.Formatter("%(asctime)s %(levelname)s %(name)s %(message)s")
        )
        logger.addHandler(h)
        logger.setLevel(logging.INFO)
    return logger


# -- id generators ---------------------------------------------------------
_ULID_ALPHABET = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"  # Crockford base32


def new_uuid() -> str:
    """`uuid.go:25-27` NewUUID (v4)."""
    return str(_uuid.uuid4())


def new_short_uuid() -> str:
    """`uuid.go:30-32` NewShortUUID: base57-ish compact encoding."""
    return _uuid.uuid4().hex[:22]


def new_ulid() -> str:
    """`uuid.go:35-37` NewULID: 48-bit ms timestamp + 80 random bits,
    Crockford base32 — lexicographically sortable by creation time."""
    ts = int(time.time() * 1000) & ((1 << 48) - 1)
    rand = int.from_bytes(os.urandom(10), "big")
    n = (ts << 80) | rand
    chars = []
    for _ in range(26):
        chars.append(_ULID_ALPHABET[n & 0x1F])
        n >>= 5
    return "".join(reversed(chars))
