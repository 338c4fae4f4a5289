"""``stateful_counter``: a closed-loop drain through ``running_counter``.

Seeded events (sf0.1: 100k events over 1,500 users) become messages in
seed-shuffled files of 5k. ``running_counter`` keyed by ``user_id`` runs
with one file per trigger and publishes each batch's counts to an out
topic. The next file enters the input topic as soon as the previous file's
counts are published, so batches run back to back as in a backlog drain,
and the run can end between batches rather than by interrupting one. It is
the only workload that touches ``streaming.stateful`` and the state store.

A file's latency runs from its drop into the input topic to the end of the
publish of its batch's counts. With one file in flight at a time, the k-th
``foreachBatch`` call handles the k-th file fed.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import checks, datagen
from perfbench.measure import (
    WatchedPubSub,
    job_ids,
    progress_records,
    quantile,
    stream_layers,
    stream_window_layers,
)

SF = 0.1
SMOKE_SF = 0.002
FILE_MSGS = 5000
SMOKE_FILE_MSGS = 10
# smoke runs use few state partitions so that they pass 10 micro-batches
# (where Spark's file-source log compacts) within seconds
SMOKE_STATE_PARTITIONS = 2
WARMUP_FILES = 0
# a batch costs about 6 s on a 4-core host; at least two per window
MIN_WINDOW_FILES = 2


class StatefulCounter:
    name = "stateful_counter"

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = os.path.join(ctx.work, self.name)
        self.sf = SMOKE_SF if ctx.smoke else SF
        self.file_msgs = SMOKE_FILE_MSGS if ctx.smoke else FILE_MSGS

    def prepare(self) -> None:
        events = datagen.events_table(self.ctx.seed, self.sf)
        rng = np.random.default_rng(self.ctx.seed + 1)
        events = events.take(rng.permutation(len(events)))
        n = len(events)
        self.users = pc.cast(events["user_id"], pa.string()).combine_chunks()
        self.messages = datagen.message_table(
            datagen.seeded_uuids(rng, n),
            pa.MapArray.from_arrays(
                np.arange(n + 1, dtype=np.int32), pa.array(["user_id"] * n), self.users),
            pc.cast(pc.cast(events["event_id"], pa.string()), pa.binary()).combine_chunks(),
            events["ts"].cast(pa.int64()).to_numpy(),
        )
        staged = os.path.join(self.work, "staged")
        os.makedirs(staged)
        self.files = []
        for i, start in enumerate(range(0, n, self.file_msgs)):
            self.files.append(os.path.join(staged, f"events-{i:04d}.parquet"))
            pq.write_table(self.messages.slice(start, self.file_msgs), self.files[-1])

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from watermill_spark.message import metadata_get
        from watermill_spark.sources import ParquetPubSub
        from watermill_spark.streaming.stateful import running_counter

        base = os.path.join(self.work, "topics")
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(self._ckpt(), ignore_errors=True)
        self.ps = WatchedPubSub(ParquetPubSub(spark, base), self.ctx.tracer)
        self.ps.subscribe_initialize("in")
        self.fed_at: list[float] = []  # drop time of each file fed
        self.done_at: list[float] = []  # publish end of each batch's counts
        self.done = threading.Condition()
        stream = self.ps.subscribe_stream("in", max_files_per_trigger=1)
        self.counts = running_counter(stream.withColumn("user_id", metadata_get("user_id")), "user_id")
        self.F = F

    def _ckpt(self) -> str:
        return os.path.join(self.work, "checkpoints")

    def _publish(self, df, batch_id: int) -> None:
        F = self.F
        with self.ctx.tracer.span("stream", "foreach_batch", batch=batch_id):
            self.ps.publish("out", df.select(
                F.concat_ws(":", F.lit(str(batch_id)), "key").alias("uuid"),
                F.create_map(
                    F.lit("key"), F.col("key"),
                    F.lit("batch_id"), F.lit(str(batch_id)),
                    F.lit("batch_count"), F.col("batch_count").cast("string"),
                    F.lit("running_count"), F.col("running_count").cast("string"),
                ).alias("metadata"),
            ))
        with self.done:
            self.done_at.append(time.time())
            self.done.notify_all()

    def _wait(self, query) -> None:
        """Wait until the counts of every file fed are published."""
        with self.done:
            while len(self.done_at) < len(self.fed_at):
                if not query.isActive:
                    raise RuntimeError(f"stateful query stopped: {query.exception()}")
                self.done.wait(0.05)

    def _wait_progress(self, query) -> None:
        """Wait until every file fed has its batch's progress record, which
        Spark reports after the counts are published and the offsets
        committed."""
        deadline = time.time() + 60.0
        while sum(1 for p in query.recentProgress if p["numInputRows"]) < len(self.fed_at):
            if not query.isActive or time.time() > deadline:
                raise RuntimeError(f"stateful query reported no progress: {query.exception()}")
            time.sleep(0.02)

    def _step(self, query, deadline: float) -> bool:
        """Wait for the file in flight; then, if ``deadline`` has not passed
        and input is left, feed the next file. Returns whether it fed one."""
        self._wait(query)
        k = len(self.fed_at)
        if time.time() >= deadline or k == len(self.files):
            return False
        topic = self.ps.inner._dir("in")
        tmp = os.path.join(topic, f".feed-{k}")
        shutil.copyfile(self.files[k], tmp)
        self.fed_at.append(time.time())
        os.rename(tmp, os.path.join(topic, os.path.basename(self.files[k])))
        return True

    def measure(self, spark) -> dict:
        ctx = self.ctx
        if ctx.smoke:
            spark.conf.set("spark.sql.shuffle.partitions", str(SMOKE_STATE_PARTITIONS))
        query = (self.counts.writeStream.foreachBatch(self._publish)
                 .option("checkpointLocation", self._ckpt())
                 .trigger(processingTime="0 seconds").start())
        windows = 2 if ctx.trace else 1
        bounds, jobs_at = [], []
        while len(self.fed_at) <= WARMUP_FILES and self._step(query, float("inf")):
            pass
        for i in range(windows):
            self._wait(query)
            w0 = time.time()
            ctx.tracer.enabled = ctx.trace and i == 1
            jobs_at.append(job_ids(spark, str(query.runId)))
            first = len(self.fed_at)
            while self._step(query, w0 + ctx.seconds if len(self.fed_at) - first >= MIN_WINDOW_FILES
                             else float("inf")):
                pass
            bounds.append((w0, time.time()))
        ctx.tracer.enabled = False
        self._wait_progress(query)
        jobs_at.append(job_ids(spark, str(query.runId)))
        query.stop()
        progress = progress_records(query)
        failures, attempted = self._check()

        # the k-th micro-batch with input read the k-th file fed
        data = sorted((p for p in progress if p["numInputRows"]), key=lambda p: p["batchId"])

        def window(w0, w1):
            files = [k for k, t in enumerate(self.fed_at) if w0 <= t < w1]
            lat = [(self.done_at[k] - self.fed_at[k]) * 1000.0 for k in files]
            bs = [data[k] for k in files if k < len(data)]
            ms = [p["durationMs"]["triggerExecution"] for p in bs]
            msgs_per_s = sum(p["numInputRows"] for p in bs) / (sum(ms) / 1000.0) if ms else 0.0
            return bs, {
                "latency_p50_ms": quantile(lat, 0.5),
                "latency_p90_ms": quantile(lat, 0.9),
                "items_per_s": msgs_per_s,
            }, {
                "samples": len(lat),
                "batch_p50_ms": quantile(ms, 0.5),
                "batch_p90_ms": quantile(ms, 0.9),
                "msgs_per_s": msgs_per_s,
            }

        bs, e2e, details = window(*bounds[0])
        out = {"attempted": attempted, "failures": failures, "e2e": e2e, "invalid": [],
               "details": {**details, "batches": len(self.done_at),
                           "state_instances": stream_layers(bs)["state.instances"]},
               "phase_metrics": {k: details[k] for k in ("batch_p50_ms", "batch_p90_ms", "msgs_per_s")}}
        if ctx.trace:
            bs, out["traced_e2e"], _ = window(*bounds[1])
            layers = stream_window_layers(spark, self.ps, jobs_at[2] - jobs_at[1], bs, *bounds[1])
            layers["gen.msgs"] = float(sum(p["numInputRows"] for p in bs))
            out["layers"] = layers
        return out

    def _check(self) -> tuple[dict, int]:
        """Counts in the out topic against a group-by of the files fed. Every
        file fed was processed: the run ends only once the counts of the last
        file fed are published."""
        fed = self.users[: min(len(self.users), len(self.fed_at) * self.file_msgs)]
        expected = {r["values"]: r["counts"] for r in pc.value_counts(fed).to_pylist()}
        out = checks.read_topic(self.ps.inner._dir("out"), columns=("metadata",))["metadata"]
        get = lambda k: pc.map_lookup(out, k, "first").to_pylist()  # noqa: E731
        keys, batch_ids = get("key"), [int(b) for b in get("batch_id")]
        final, summed, last_batch = {}, {}, {}
        for key, b, bc, rc in zip(keys, batch_ids, get("batch_count"), get("running_count")):
            summed[key] = summed.get(key, 0) + int(bc)
            if b >= last_batch.get(key, -1):
                last_batch[key], final[key] = b, int(rc)
        failures = checks.check_counts(expected, final, summed)
        failures["duplicated"] = len(keys) - len(set(zip(keys, batch_ids)))
        # one batch per file fed, each publishing once
        failures["wrong_batches"] = abs(len(set(batch_ids)) - len(self.fed_at)) + abs(
            len(self.done_at) - len(self.fed_at))
        return failures, len(fed)
