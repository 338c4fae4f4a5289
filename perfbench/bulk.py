"""``route_bulk``: the transport's three legs in bulk, closed loop.

Seeded messages (150k, 16-byte payloads, a seeded ~1% failing by the same
rule as the open loop) are staged as one parquet file outside the
transport. Three timed legs then run one after another:

1. publish: ``ParquetPubSub.publish`` of the staged messages to ``in``;
2. route: ``Router.run_once`` from ``in`` to ``out`` through the same
   ``poison_queue → correlation_id → fail_rows`` onion as the open loop;
3. subscribe: ``ParquetPubSub.subscribe("out")`` with its uuid and
   correlation-id columns collected into the benchmark process, not
   counted.

Each leg's messages per second is the per-leg figure watermill's own
benchmark reports. The per-row data path dominates here, where per-batch
fixed cost dominates the open loop.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, datagen
from perfbench.measure import WatchedPubSub
from perfbench.route import build_router, seeded_messages

MSGS = 150_000
SMOKE_MSGS = 2_000
PAYLOAD_BYTES = 16


class RouteBulk:
    name = "route_bulk"

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = os.path.join(ctx.work, self.name)
        self.n = SMOKE_MSGS if ctx.smoke else MSGS
        self.staged = os.path.join(self.work, "staged.parquet")

    def prepare(self) -> None:
        # its own random stream, apart from the open loop's messages
        self.uuids, metadata, self.fail = seeded_messages([self.ctx.seed, 2], self.n)
        rng = np.random.default_rng([self.ctx.seed, 3])
        payload = pa.FixedSizeBinaryArray.from_buffers(
            pa.binary(PAYLOAD_BYTES), self.n,
            [None, pa.py_buffer(rng.integers(0, 256, self.n * PAYLOAD_BYTES, np.uint8).tobytes())],
        ).cast(pa.binary())
        os.makedirs(self.work)
        pq.write_table(datagen.message_table(
            self.uuids, metadata, payload, np.arange(self.n, dtype=np.int64)), self.staged)

    def setup(self, spark) -> None:
        from watermill_spark.message import MESSAGE_SCHEMA
        from watermill_spark.sources import ParquetPubSub

        base = os.path.join(self.work, "topics")
        shutil.rmtree(base, ignore_errors=True)
        self.ps = WatchedPubSub(ParquetPubSub(spark, base), self.ctx.tracer)
        self.router = build_router(self.ps, self.ctx.tracer)
        self.messages = spark.read.schema(MESSAGE_SCHEMA).parquet(self.staged)

    def measure(self, spark) -> dict:
        from pyspark.sql import functions as F

        from watermill_spark.message import CORRELATION_ID

        tracer = self.ctx.tracer
        tracer.enabled = self.ctx.trace
        t0 = time.perf_counter()
        self.ps.publish("in", self.messages)
        t1 = time.perf_counter()
        self.router.run_once()
        t2 = time.perf_counter()
        with tracer.span("sources", "subscribe", topic="out"):
            got = self.ps.subscribe("out").select(
                "uuid", F.col("metadata")[CORRELATION_ID].alias("cid")).toArrow()
        t3 = time.perf_counter()
        tracer.enabled = False
        self.router.close()

        poison = checks.read_topic(self.ps.inner._dir("poison"))
        failures = checks.check_routing(
            self.uuids, self.fail, got["uuid"], got["cid"],
            poison["uuid"], checks.correlation_ids(poison["metadata"]),
        )
        legs = {"publish_msgs_per_s": self.n / (t1 - t0),
                "route_msgs_per_s": self.n / (t2 - t1),
                "subscribe_msgs_per_s": self.n / (t3 - t2)}
        out = {"attempted": self.n, "failures": failures, "invalid": [],
               "details": {"msgs": self.n, "publish_s": t1 - t0, "route_s": t2 - t1,
                           "subscribe_s": t3 - t2, **legs},
               "phase_metrics": {"msgs_per_s": self.n / (t3 - t0), **legs}}
        if self.ctx.trace:
            out["layers"] = {"sources.subscribe_s": t3 - t2}
        return out
