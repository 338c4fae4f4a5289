"""``route_microbatch``: open-loop routing through ``Router.run_stream``.

A generator thread drops parquet files of messages into a ParquetPubSub
input topic on a fixed schedule, whatever the router does. The router runs
the handler onion ``poison_queue → correlation_id → fail_rows`` with a
processing-time trigger; a seeded ~1% of messages carry a flag that
``fail_rows`` turns into an error, so they go to the poison topic. Per-batch
fixed cost dominates: the router's several Spark jobs per batch, the eager
snapshot in ``poison_queue`` and the checkpoint commits.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import checks, datagen
from perfbench.measure import (
    WatchedPubSub,
    job_ids,
    progress_end_time,
    progress_records,
    quantile,
    stream_window_layers,
    traced_middleware,
)

FAIL_KEY = "bench_fail"
FAIL_SHARE = 0.01
# open loop: 500 msg/s in files of 50, with a 2 s processing-time trigger.
# On a 4-core host a micro-batch costs about 0.8 s fixed plus 0.17 ms a
# message, and half again as much when other tenants load the host, so the
# router drains 1,600-3,500 msg/s at this trigger and the offered rate
# stays near a third of that or less. Each batch ends before the next
# trigger, so a message waits for its trigger, then for one batch.
RATE = 500
TICK_S = 0.1
TRIGGER = "2 seconds"
# warm-up: this many batches with input, the first of them cold
WARMUP_BATCHES = 2
MAX_WARMUP_S = 60.0
# the open loop is invalid when the generator runs this late or the backlog
# grows by more than this many seconds of input over the window
MAX_GEN_LAG_S = 0.5
MAX_BACKLOG_GROWTH_S = 2.0


def seeded_messages(seed: int, n: int) -> tuple[pa.Array, pa.Array, pa.Array]:
    """Uuids and metadata of ``n`` messages, and the uuids that must fail."""
    rng = np.random.default_rng(seed)
    uuids = datagen.seeded_uuids(rng, n)
    fail = rng.random(n) < FAIL_SHARE
    offsets = np.concatenate([[0], np.cumsum(fail)]).astype(np.int32)
    k = int(fail.sum())
    metadata = pa.MapArray.from_arrays(
        offsets, pa.array([FAIL_KEY] * k, pa.string()), pa.array(["1"] * k, pa.string())
    )
    return uuids, metadata, uuids.filter(pa.array(fail))


def build_router(ps, tracer):
    """Handler ``in → out`` with the poison onion; each middleware's
    HandlerFn is wrapped in a span."""
    from pyspark.sql import functions as F

    from watermill_spark.message import metadata_get
    from watermill_spark.streaming import Router
    from watermill_spark.streaming.middleware import correlation_id, fail_rows, poison_queue
    from watermill_spark.streaming.router import passthrough_handler

    onion = [
        ("poison_queue", poison_queue(ps, "poison")),
        ("correlation_id", correlation_id),
        ("fail_rows", fail_rows(F.coalesce(metadata_get(FAIL_KEY) == "1", F.lit(False)), "seeded failure")),
    ]
    router = Router()
    router.add_handler(
        "route", "in", ps, "out", ps, passthrough_handler,
        middleware=[traced_middleware(tracer, name, mw) for name, mw in onion],
    )
    return router


def _rows(paths) -> int:
    return sum(pq.read_metadata(p).num_rows for p in paths)


@dataclass
class Generator:
    """Open-loop producer: every ``TICK_S`` it writes the next slice of the
    pre-made messages, stamped with the slice's due time, as one parquet
    file and renames it into the topic (an atomic drop). Runs on its own
    schedule whatever the router does."""

    topic_dir: str
    uuids: pa.Array
    metadata: pa.Array
    ticks: int
    per_tick: int
    stop_at: float = float("inf")
    log: list = field(default_factory=list)  # (due, written, n)
    error: BaseException | None = None

    def write(self, k: int, due: float) -> None:
        sl = slice(k * self.per_tick, (k + 1) * self.per_tick)
        n = self.per_tick
        tbl = datagen.message_table(
            self.uuids[sl], self.metadata[sl],
            pa.array([str(k * n + i).encode() for i in range(n)], pa.binary()),
            np.full(n, int(due * 1e6), np.int64),
        )
        tmp = os.path.join(self.topic_dir, f".gen-{k:06d}.tmp")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.topic_dir, f"gen-{k:06d}.parquet"))
        self.log.append((due, time.time(), n))

    def run(self, t0: float) -> None:
        """Write the files, one due every ``TICK_S`` from ``t0``."""
        try:
            for k in range(self.ticks):
                due = t0 + k * TICK_S
                if due >= self.stop_at:
                    break
                time.sleep(max(0.0, due - time.time()))
                self.write(k, due)
        except BaseException as e:  # surfaced by the main thread
            self.error = e


class RouteMicrobatch:
    name = "route_microbatch"

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = os.path.join(ctx.work, self.name)
        self.windows = 2 if ctx.trace else 1
        self.ticks = int(np.ceil((MAX_WARMUP_S + self.windows * ctx.seconds) / TICK_S))
        self.per_tick = int(RATE * TICK_S)

    def prepare(self) -> None:
        self.uuids, self.metadata, self.fail = seeded_messages(self.ctx.seed, self.ticks * self.per_tick)

    def setup(self, spark) -> None:
        from watermill_spark.sources import ParquetPubSub

        base = os.path.join(self.work, "topics")
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, "checkpoints"), ignore_errors=True)
        self.ps = WatchedPubSub(ParquetPubSub(spark, base), self.ctx.tracer)
        self.ps.subscribe_initialize("in")
        self.router = build_router(self.ps, self.ctx.tracer)

    def measure(self, spark) -> dict:
        ctx = self.ctx
        query = self.router.run_stream(
            os.path.join(self.work, "checkpoints"), available_now=False, processing_time=TRIGGER
        )[0]
        gen = Generator(self.ps.inner._dir("in"), self.uuids, self.metadata, self.ticks, self.per_tick)
        t0 = time.time() + TICK_S
        thread = threading.Thread(target=gen.run, args=(t0,), name="perfbench-generator")
        thread.start()
        self._wait_batches(query, WARMUP_BATCHES, t0 + MAX_WARMUP_S)
        warmup_s = time.time() - t0
        # windows start on a tick so each holds whole generator files
        start = t0 + np.ceil((time.time() - t0) / TICK_S + 1) * TICK_S
        windows = [(start + i * ctx.seconds, start + (i + 1) * ctx.seconds) for i in range(self.windows)]
        gen.stop_at = windows[-1][1]
        jobs_at = []
        for i, (w0, w1) in enumerate(windows):
            time.sleep(max(0.0, w0 - time.time()))
            ctx.tracer.enabled = ctx.trace and i == 1
            jobs_at.append(job_ids(spark, str(query.runId)))
            time.sleep(max(0.0, w1 - time.time()))
        jobs_at.append(job_ids(spark, str(query.runId)))
        ctx.tracer.enabled = False
        thread.join()
        if gen.error is not None:
            raise gen.error
        query.processAllAvailable()
        self.router.close()
        progress = progress_records(query)

        sent = self.uuids[: len(gen.log) * self.per_tick]
        out = checks.read_topic(self.ps.inner._dir("out"))
        poison = checks.read_topic(self.ps.inner._dir("poison"))
        failures = checks.check_routing(
            sent, self.fail.filter(pc.is_in(self.fail, value_set=sent)),
            out["uuid"], checks.correlation_ids(out["metadata"]),
            poison["uuid"], checks.correlation_ids(poison["metadata"]),
        )
        results = [self._window(gen, progress, w0, w1) for (w0, w1) in windows]
        invalid = [r for res in results for r in res["invalid"]]
        first = results[0]
        res = {"attempted": len(sent), "failures": failures, "e2e": first["e2e"], "invalid": invalid,
               "details": {**first["batches"], **first["gen"], "warmup_s": warmup_s},
               "phase_metrics": {"latency_p50_ms": first["e2e"]["latency_p50_ms"],
                                 "latency_p90_ms": first["e2e"]["latency_p90_ms"],
                                 "batch_p50_ms": first["batches"]["batch_p50_ms"],
                                 "batch_p90_ms": first["batches"]["batch_p90_ms"]}}
        if ctx.trace:
            w0, w1 = windows[1]
            batches = [p for p in progress if p["numInputRows"] and w0 <= progress_end_time(p) < w1]
            layers = stream_window_layers(spark, self.ps, jobs_at[2] - jobs_at[1], batches, w0, w1)
            layers.update({
                "router.jobs_per_batch": layers["stream.jobs_per_batch"],
                "router.add_batch_ms": quantile([p["durationMs"]["addBatch"] for p in batches], 0.5),
                "middleware.poison_queue_s": ctx.tracer.total("middleware", "poison_queue"),
                "middleware.poison_published": _rows(
                    [p for c in self.ps.calls if c.topic == "poison" and w0 <= c.start < w1 for p in c.files]),
                **results[1]["gen"],
            })
            res["layers"], res["traced_e2e"] = layers, results[1]["e2e"]
        return res

    @staticmethod
    def _wait_batches(query, n: int, deadline: float) -> None:
        """Wait until ``n`` micro-batches with input have run."""
        while sum(1 for p in query.recentProgress if p["numInputRows"]) < n:
            if not query.isActive or time.time() > deadline:
                raise RuntimeError(f"router query stalled before {n} batches: {query.exception()}")
            time.sleep(TICK_S)

    def _window(self, gen: Generator, progress, w0, w1) -> dict:
        """End-to-end numbers for messages due within [w0, w1)."""
        lat = []
        for c in self.ps.calls:
            if c.topic != "out" or not c.files:
                continue
            due = pa.concat_tables(pq.read_table(p, columns=["event_time"]) for p in c.files)["event_time"]
            # Spark may store timestamps as INT96, which reads back in ns
            due_s = due.cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_numpy() / 1e6
            keep = (due_s >= w0) & (due_s < w1)
            lat.extend(((c.end - due_s[keep]) * 1000.0).tolist())
        batches = [p for p in progress if p["numInputRows"] and w0 <= progress_end_time(p) < w1]
        batch_ms = [p["durationMs"]["triggerExecution"] for p in batches]
        # backlog: messages on disk in the input topic and not yet delivered
        # to the out or poison topic, sampled every tick across the window
        written = np.array([(w, n) for (_, w, n) in gen.log])
        delivered = np.array([(c.end, _rows(c.files)) for c in self.ps.calls if c.files] or [(0.0, 0)])
        grid = np.arange(w0, w1, TICK_S)
        backlog = np.array([
            written[written[:, 0] <= t, 1].sum() - delivered[delivered[:, 0] <= t, 1].sum()
            for t in grid
        ])
        third = max(1, len(grid) // 3)
        growth = float(backlog[-third:].mean() - backlog[:third].mean())
        lag = max((w - d for (d, w, _) in gen.log if w0 <= d < w1), default=0.0)
        invalid = []
        if lag > MAX_GEN_LAG_S:
            invalid.append(f"generator ran {lag:.3f} s behind schedule")
        if growth > RATE * MAX_BACKLOG_GROWTH_S:
            invalid.append(f"backlog grew by {growth:.0f} messages")
        return {
            "e2e": {
                "latency_p50_ms": quantile(lat, 0.5),
                "latency_p90_ms": quantile(lat, 0.9),
            },
            "batches": {"samples": len(lat), "batches": len(batch_ms), "batch_ms": batch_ms,
                        "batch_p50_ms": quantile(batch_ms, 0.5),
                        "batch_p90_ms": quantile(batch_ms, 0.9)},
            "gen": {"gen.lag_ms": lag * 1000.0, "gen.msgs": float(sum(n for (d, _, n) in gen.log if w0 <= d < w1)),
                    "gen.backlog_msgs": float(backlog[-1]) if len(backlog) else 0.0},
            "invalid": invalid,
        }
