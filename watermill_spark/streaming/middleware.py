"""Middleware set (`message/router/middleware/*`), as HandlerFn decorators.

A middleware is `Callable[[HandlerFn], HandlerFn]` — exactly the reference's
`HandlerMiddleware func(HandlerFunc) HandlerFunc` shape (`message/router.go:59`),
so composition order semantics carry over unchanged (Router applies
first-added outermost).

Error convention: a handler/middleware marks failed rows by setting the
string column `_wm_error`; downstream middleware (poison, ignore_errors,
retry) consumes it; the Router nacks (raises ⇒ replay) any survivors.
This is the batch-granular translation of per-message Ack/Nack.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from watermill_spark.message import (
    metadata_get,
    metadata_set,
    metadata_setdefault,
    with_metadata,
)
from watermill_spark.sources.base import PubSub

from .router import CTX_HANDLER, CTX_SUB_TOPIC, ERROR_COL, HandlerFn, Middleware

# Metadata keys live in watermill_spark.message (leaf module — see the
# import-cycle note there); re-exported here for compatibility.
from watermill_spark.message import (  # noqa: F401,E402 (re-export)
    CORRELATION_ID,
    DELAYED_FOR,
    DELAYED_UNTIL,
    POISONED_AT,
    POISONED_HANDLER,
    POISONED_TOPIC,
    REASON_POISONED,
    REQUEUER_RETRIES,
)

# RFC3339 with zone offset — same pattern the delay component stamps
# (`components/delay.py`), kept local to avoid a streaming↔components import.
_RFC3339 = "yyyy-MM-dd'T'HH:mm:ssXXX"


def recoverer(fn: HandlerFn | None = None, *, strict: bool = False):
    """Catch handler exceptions → error rows instead of a failed batch
    (`middleware/recoverer.go:23-37`: panic → error with stacktrace).

    Two forms:
    - ``middleware=[recoverer]`` (bare): lazy. Python exceptions raised while
      *building* the handler's plan (the direct analog of a panic in the
      reference's handler invocation) become `_wm_error` rows. Execution-time
      errors surface at the sink's single materialization and nack the batch
      (⇒ checkpoint replay) — no extra Spark job on the happy path.
    - ``middleware=[recoverer(strict=True)]``: also forces the plan here
      (eager localCheckpoint) so *execution* errors are converted to error
      rows too, at the cost of one extra job per batch per handler. Use when
      downstream poison/ignore middleware must consume runtime failures.
    """

    def make(strict_flag: bool) -> Middleware:
        def mw(inner: HandlerFn) -> HandlerFn:
            def wrapped(df: DataFrame) -> DataFrame:
                try:
                    out = inner(df)
                    if strict_flag:
                        # localCheckpoint surfaces runtime errors here (not
                        # at the sink) AND snapshots the result without a
                        # CacheManager entry leaking per micro-batch
                        out = out.localCheckpoint(eager=True)
                    return out
                except Exception as e:  # noqa: BLE001
                    return df.withColumn(
                        ERROR_COL, F.lit(f"{type(e).__name__}: {e}")
                    )

            return wrapped

        return mw

    if fn is not None:  # bare-decorator use: recoverer is itself a Middleware
        return make(False)(fn)
    return make(strict)


def fail_rows(predicate: F.Column, reason: str | F.Column) -> Middleware:
    """Utility middleware: mark rows matching `predicate` as errored after
    the handler runs. The DataFrame-native way for handlers to report
    per-message failures (HandlerFunc error return analog)."""

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            out = fn(df)
            r = F.lit(reason) if isinstance(reason, str) else reason
            return out.withColumn(
                ERROR_COL, F.when(predicate, r).otherwise(F.col(ERROR_COL))
            )

        return wrapped

    return mw


def poison_queue(publisher: PubSub, topic: str) -> Middleware:
    """Route errored messages to a poison topic and swallow the error
    (`middleware/poison.go:30-60`): stamps reason / source topic / handler
    metadata, publishes to the dead-letter topic, passes only ok rows on.
    """

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            # snapshot (not cache): inspected twice, and blocks GC-release
            # after the batch instead of leaking per micro-batch
            out = fn(df).localCheckpoint(eager=True)
            errs = out.filter(F.col(ERROR_COL).isNotNull())
            if errs.limit(1).count():
                stamped = with_metadata(
                    errs,
                    **{
                        REASON_POISONED: F.col(ERROR_COL),
                        POISONED_TOPIC: F.col(CTX_SUB_TOPIC),
                        POISONED_HANDLER: F.col(CTX_HANDLER),
                    },
                )
                publisher.publish(topic, stamped)
            return out.filter(F.col(ERROR_COL).isNull())

        return wrapped

    return mw


def poison_queue_with_filter(
    publisher: PubSub,
    topic: str,
    should_poison: Callable[[F.Column], F.Column],
    dedup_retention_sec: float | None = 7 * 86400.0,
    dedup_capacity: int = 1_000_000,
) -> Middleware:
    """PoisonQueueWithFilter (`middleware/poison.go:46-60`): only errors the
    predicate qualifies go to the dead-letter topic; the rest stay ERROR
    rows flowing on (⇒ the router's unhandled-error nack, exactly the
    reference's 'return the error to the caller' path).

    ``should_poison`` maps the error Column to a boolean Column, e.g.
    ``lambda err: err.contains("schema")`` — a plan-level predicate, so the
    split is one filter, not per-row Python.

    Replay interplay: unlike plain ``poison_queue`` (which swallows every
    error, so the batch commits), surviving error rows here nack the batch
    — and the redelivered batch re-derives the SAME qualifying rows. Each
    delivery must therefore reach the DLQ once. The dedup key is
    (uuid, requeue-retries, handler, sub-topic): a REQUEUED message
    (pulled out of the DLQ and re-fed — examples/15) carries an
    incremented retries counter, so it is a new delivery and dead-letters
    again rather than being silently dropped; a checkpoint replay of the
    same batch carries identical metadata and is suppressed; and several
    instances SHARING one DLQ topic stay independent (the handler/topic
    parts — router context columns on the poisoned side, the
    POISONED_HANDLER/POISONED_TOPIC stamps on the DLQ side).

    The dedup is DISTRIBUTED (r4 verdict item 3): already-dead-lettered
    keys are removed by a left-anti join against the DLQ topic itself —
    never collected to the driver — so a batch that is *wholly* poisoned
    (bad deploy, schema break: the DLQ's core scenario) stays a Spark
    plan at any size instead of an N-literal ``isin``. Published rows are
    stamped with an RFC3339 ``POISONED_AT``; ``dedup_retention_sec``
    bounds the anti-join build side to recently-poisoned keys (older
    duplicates can re-publish — the safe direction; the DLQ stays
    at-least-once and a uuid-deduping consumer absorbs it). Rows without
    the stamp (pre-upgrade DLQs) always count as seen. This also makes
    the replay dedup durable across process restarts, which the old
    in-process key set was not.

    Transports whose ``subscribe`` CONSUMES (GoChannel
    ``persistent=False``) cannot be re-read for dedup; for those the
    middleware accumulates the published keys per instance as
    checkpointed DataFrames (still never collected), FIFO-evicted past
    ``dedup_capacity`` keys — evicting can only re-publish a duplicate.
    """
    from collections import deque

    # (keys_df, n_keys) per published batch — only used when the DLQ
    # cannot be re-read (draining transports)
    seen_batches: deque = deque()

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            out = fn(df).localCheckpoint(eager=True)
            err_col = F.col(ERROR_COL)
            poison_pred = err_col.isNotNull() & F.coalesce(
                should_poison(err_col), F.lit(False)
            )
            poisoned = out.filter(poison_pred)
            if poisoned.limit(1).count() == 0:
                return out.filter(~poison_pred)
            meta = F.coalesce(F.col("metadata"), F.create_map())
            # The delivery key includes the (handler, topic) that poisoned
            # the row: several middleware instances may share one DLQ
            # topic, and a (uuid, retries)-only key would let H1's
            # dead-letter suppress H2's entirely (reviewed bug — the row
            # would vanish from H2's DLQ *and* its downstream). On the
            # poisoned side the identity sits in the router context
            # columns; on the DLQ side it was stamped into metadata.
            retries = F.coalesce(meta[REQUEUER_RETRIES], F.lit("0"))
            poisoned_key = F.concat_ws(
                "#",
                F.col("uuid"), retries,
                F.coalesce(F.col(CTX_HANDLER).cast("string"), F.lit("")),
                F.coalesce(F.col(CTX_SUB_TOPIC).cast("string"), F.lit("")),
            )
            dlq_key = F.concat_ws(
                "#",
                F.col("uuid"), retries,
                F.coalesce(meta[POISONED_HANDLER], F.lit("")),
                F.coalesce(meta[POISONED_TOPIC], F.lit("")),
            )
            # GoChannel(persistent=False).subscribe drains the topic — a
            # dedup read there would consume the DLQ. Every durable
            # transport (parquet/SQL/file/kafka, persistent memory) has no
            # such attribute or sets it True.
            dlq_readable = getattr(publisher, "persistent", True)
            seen_sources = []
            if dlq_readable:
                dlq = publisher.subscribe(topic)
                stamp = F.to_timestamp(meta[POISONED_AT])
                if dedup_retention_sec is not None:
                    horizon = F.current_timestamp() - F.expr(
                        f"INTERVAL {int(dedup_retention_sec)} SECONDS"
                    )
                    # missing stamp (pre-upgrade rows) counts as seen —
                    # suppression is always-correct dedup; retention only
                    # bounds the build side
                    dlq = dlq.filter(stamp.isNull() | (stamp >= horizon))
                seen_sources.append(dlq.select(dlq_key.alias("_dlq_key")))
            for keys_df, _n in seen_batches:
                seen_sources.append(keys_df)
            fresh = poisoned.withColumn("_dlq_key", poisoned_key)
            if seen_sources:
                seen = seen_sources[0]
                for s in seen_sources[1:]:
                    seen = seen.unionAll(s)
                fresh = fresh.join(
                    seen.distinct(), "_dlq_key", "left_anti"
                ).localCheckpoint(eager=True)
            if fresh.limit(1).count():
                stamped = with_metadata(
                    fresh.drop("_dlq_key"),
                    **{
                        REASON_POISONED: err_col,
                        POISONED_TOPIC: F.col(CTX_SUB_TOPIC),
                        POISONED_HANDLER: F.col(CTX_HANDLER),
                        POISONED_AT: F.date_format(F.current_timestamp(), _RFC3339),
                    },
                )
                publisher.publish(topic, stamped)
                if not dlq_readable:
                    keys = fresh.select("_dlq_key").localCheckpoint(
                        eager=True
                    )
                    seen_batches.append((keys, keys.count()))
                    while (
                        sum(n for _df, n in seen_batches) > dedup_capacity
                        and len(seen_batches) > 1
                    ):
                        seen_batches.popleft()
            # ok rows AND non-qualifying error rows continue downstream
            return out.filter(~poison_pred)

        return wrapped

    return mw


def ignore_errors(whitelist: Sequence[str]) -> Middleware:
    """Swallow whitelisted errors (`middleware/ignore_errors.go:14-38`)."""

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            out = fn(df)
            return out.withColumn(
                ERROR_COL,
                F.when(F.col(ERROR_COL).isin(list(whitelist)), F.lit(None)).otherwise(
                    F.col(ERROR_COL)
                ),
            )

        return wrapped

    return mw


def retry(
    max_retries: int = 3,
    initial_interval_sec: float = 0.0,
    multiplier: float = 2.0,
    max_elapsed_sec: float | None = None,
) -> Middleware:
    """Exponential-backoff retry of the errored subset
    (`middleware/retry.go:60-146`).

    Spark has no per-row retry, so this is the driver-side loop over the
    failed subset (SURVEY.md §4): run handler; rows that error are re-fed
    (with backoff sleep) up to max_retries times; still-failing rows keep
    their error for poison/nack downstream. Each attempt is a full
    DataFrame pass over only the failed messages.
    """

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            # localCheckpoint, not cache(): each attempt's result is a
            # frozen snapshot (chaos middleware can't re-roll between the
            # failed-probe and the union) and its blocks are GC-released
            # after the batch instead of leaking CacheManager entries in a
            # long-running stream. Filters over a snapshot need no own cache.
            out = fn(df).localCheckpoint(eager=True)
            ok = out.filter(F.col(ERROR_COL).isNull())
            failed_out = out.filter(F.col(ERROR_COL).isNotNull())
            interval = initial_interval_sec
            start = time.time()
            attempt = 0
            while attempt < max_retries and failed_out.limit(1).count():
                if max_elapsed_sec is not None and time.time() - start > max_elapsed_sec:
                    break
                if interval > 0:
                    time.sleep(interval)
                interval *= multiplier
                attempt += 1
                failed_in = df.join(failed_out.select("uuid"), "uuid", "left_semi")
                retried = fn(failed_in).localCheckpoint(eager=True)
                ok = ok.unionByName(retried.filter(F.col(ERROR_COL).isNull()))
                failed_out = retried.filter(F.col(ERROR_COL).isNotNull())
            # rows still failing after all attempts keep their last error
            return ok.unionByName(failed_out)

        return wrapped

    return mw


def deduplicator(
    key: F.Column | None = None, hasher: str = "sha256"
) -> Middleware:
    """Drop messages whose dedup key was already seen in the batch
    (`middleware/deduplicator.go:112-209`; hashers `:219-268` — SHA256 and
    CRC32 map directly; Adler32 has no Spark builtin and is substituted by
    CRC32, which the reference itself calls an acceptable short-window
    hash).

    Batch form: dropDuplicates on the key. The streaming form with an
    expiring window is `dropDuplicatesWithinWatermark`, exercised in
    streaming/stateful.py.
    """

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            if key is not None:
                k = key
            elif hasher == "crc32":
                k = F.crc32(F.col("payload")).cast("string")
            else:
                k = F.sha2(F.col("payload"), 256)
            deduped = (
                df.withColumn("_wm_dedup_key", k)
                .dropDuplicates(["_wm_dedup_key"])
                .drop("_wm_dedup_key")
            )
            return fn(deduped)

        return wrapped

    return mw


def throttle(max_messages: int, per_seconds: float | None = None) -> Middleware:
    """Rate-limit handler invocations without dropping messages
    (`middleware/throttle.go:17-31`: the reference delays delivery via a
    ticker; it never discards).

    The batch is split into chunks of ≤ `max_messages`; the handler runs once
    per chunk and the chunk outputs are unioned, so every message is
    delivered but no single handler invocation sees more than the cap. With
    `per_seconds` set, each chunk's output is force-materialized and a sleep
    separates chunks — the micro-batch translation of "N messages per
    duration".

    In streaming, prefer the scan-level knob
    (`Router.run_stream(max_files_per_trigger=…, processing_time=…)` /
    `maxOffsetsPerTrigger`): it rate-limits at the source without extra
    materialization and is the 100-TB-safe form. This middleware is the
    transport-agnostic fallback for bounded batches.
    """

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            from functools import reduce

            from pyspark.sql import Window

            total = df.count()
            if total <= max_messages:
                return fn(df)
            # Stable intra-batch chunk ids. Ordering is on (uuid, payload
            # md5) — deterministic message content, never
            # monotonically_increasing_id, so chunk membership is identical
            # on any recomputation. The global-order window is a single-task
            # sort — fine here because a throttled batch is by definition
            # small (the cap bounds what downstream consumes per step); at
            # scale the source-side trigger knobs apply instead.
            w = Window.orderBy(
                "uuid", F.md5(F.coalesce(F.col("payload"), F.lit(b"")))
            )
            # localCheckpoint, not cache(): (a) the chunk assignment is
            # frozen as a materialized snapshot, so per-chunk jobs and the
            # final union can never disagree; (b) checkpoint blocks are
            # released by the ContextCleaner once the returned union is
            # dereferenced, so a long-running stream doesn't accumulate
            # CacheManager entries batch after batch.
            chunked = df.withColumn(
                "_wm_chunk",
                ((F.row_number().over(w) - F.lit(1)) / F.lit(max_messages)).cast(
                    "bigint"
                ),
            ).localCheckpoint(eager=True)
            n_chunks = -(-total // max_messages)
            outs = []
            for i in range(n_chunks):
                out = fn(chunked.filter(F.col("_wm_chunk") == i).drop("_wm_chunk"))
                if per_seconds is not None:
                    # rate applies to processing time ⇒ force now; the
                    # snapshot doubles as the chunk's result cache
                    out = out.localCheckpoint(eager=True)
                    if i < n_chunks - 1:
                        time.sleep(per_seconds)
                outs.append(out)
            return reduce(DataFrame.unionByName, outs)

        return wrapped

    return mw


def correlation_id(fn: HandlerFn) -> HandlerFn:
    """Ensure a correlation id exists and survives the handler
    (`middleware/correlation.go:28-43`). Because output rows derive from
    input rows, propagation is structural; this sets the key when absent.
    """

    def wrapped(df: DataFrame) -> DataFrame:
        seeded = df.withColumn(
            "metadata", metadata_setdefault(CORRELATION_ID, F.expr("uuid()"))
        )
        return fn(seeded)

    return wrapped


def duplicator(fn: HandlerFn) -> HandlerFn:
    """Run the handler twice and union (idempotency test helper,
    `middleware/duplicator.go:8-22`)."""

    def wrapped(df: DataFrame) -> DataFrame:
        return fn(df).unionByName(fn(df))

    return wrapped


def random_fail(error_probability: float, seed: int | None = None) -> Middleware:
    """Chaos: fail each message with probability p
    (`middleware/randomfail.go:16-27`). Seeded rand() keeps tests
    deterministic per-plan."""

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            out = fn(df)
            r = F.rand(seed) if seed is not None else F.rand()
            return out.withColumn(
                ERROR_COL,
                F.when(r < error_probability, F.lit("random failure")).otherwise(
                    F.col(ERROR_COL)
                ),
            )

        return wrapped

    return mw


def delay_on_error(base_sec: int = 10, multiplier: int = 2, max_sec: int = 600) -> Middleware:
    """On errored rows, stamp exponential-backoff delay metadata
    (`middleware/delay_on_error.go:23-47` + `components/delay/delay.go`):
    `_watermill_delayed_for` doubles with each requeue retry, capped.
    """

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            out = fn(df)
            retries = F.coalesce(metadata_get(REQUEUER_RETRIES).cast("int"), F.lit(0))
            delay_sec = F.least(
                F.lit(base_sec) * F.pow(F.lit(multiplier), retries), F.lit(max_sec)
            ).cast("long")
            delayed_until = F.to_timestamp(
                F.from_unixtime(F.unix_timestamp(F.current_timestamp()) + delay_sec)
            )
            stamp = metadata_set(
                **{
                    DELAYED_UNTIL: F.date_format(delayed_until, _RFC3339),
                    DELAYED_FOR: F.concat(delay_sec.cast("string"), F.lit("s")),
                }
            )
            return out.withColumn(
                "metadata",
                F.when(F.col(ERROR_COL).isNotNull(), stamp).otherwise(
                    F.col("metadata")
                ),
            )

        return wrapped

    return mw


def instant_ack(fn: HandlerFn) -> HandlerFn:
    """At-most-once marker (`middleware/instant_ack.go:9-14`): ack before
    processing. In micro-batch terms: the checkpoint-first pattern — commit
    the raw batch to a staging sink, then process. Per-batch the semantic
    difference from at-least-once is only visible on failure, so this
    decorator simply suppresses error propagation (a failed message is
    dropped, not replayed) — exactly what ack-before-process implies."""

    def wrapped(df: DataFrame) -> DataFrame:
        out = fn(df)
        return out.filter(F.col(ERROR_COL).isNull())

    return wrapped


def message_transform(transform: Callable[[DataFrame], DataFrame]) -> Middleware:
    """Decorator applying a transform to every message before the handler
    (`message/decorator.go:10-34` MessageTransformSubscriberDecorator)."""

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            return fn(transform(df))

        return wrapped

    return mw


def set_metadata(**kv: str) -> Middleware:
    """Convenience: stamp metadata on every message pre-handler."""
    return message_transform(lambda df: with_metadata(df, **kv))


class CircuitBreakerOpen(RuntimeError):
    """Raised when the breaker is open: the batch fails fast without running
    the handler, so checkpoint replay redelivers once the breaker closes."""


def circuit_breaker(
    max_failures: int = 5,
    open_seconds: float = 60.0,
    clock=time.monotonic,
    strict: bool = True,
) -> Middleware:
    """Fail-fast after consecutive failing batches
    (`middleware/circuit_breaker.go:17-37`, sony/gobreaker semantics).

    Driver-side state machine (there is no Spark builtin): closed → open
    after `max_failures` consecutive failing batches; open → half-open after
    `open_seconds`; a successful half-open batch closes it. While open, the
    handler is skipped entirely and the batch raises — with streaming replay
    that means the source is retried later instead of hammering a failing
    dependency.

    Failure detection: raised exceptions always count. The default
    ``strict=True`` additionally sniffs for `_wm_error` rows emitted by
    inner middleware (recoverer / fail_rows), which forces the plan into an
    eager ``localCheckpoint`` snapshot and runs one extra Spark job per
    batch for the sniff. The router's sink pass (``Router._process_batch``)
    does not reuse that sniff: it re-reads the snapshot, caches a second
    copy of its rows and counts the error rows again. ``strict=False``
    keeps the happy path fully lazy but then error-*rowed* batches are
    invisible to the breaker: the router's error-row raise happens at the
    sink pass, outside this wrapper, and on checkpoint replay the handler
    plan builds cleanly again without raising — so handlers that convert
    failures to `_wm_error` rows get NO breaker protection in lax mode.
    Only opt out when every inner failure surfaces as a raised exception.
    """
    state = {"failures": 0, "opened_at": None}

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            if state["opened_at"] is not None:
                if clock() - state["opened_at"] < open_seconds:
                    raise CircuitBreakerOpen(
                        f"open after {state['failures']} consecutive failures"
                    )
                state["opened_at"] = None  # half-open: let one batch through
            try:
                out = fn(df)
                failed = False
                if strict and ERROR_COL in out.columns:
                    # localCheckpoint, not cache(): the snapshot serves the
                    # error sniff AND the router's sink pass, and its blocks
                    # are GC-released after the batch (a cache() entry would
                    # leak in the CacheManager for the stream's lifetime)
                    out = out.localCheckpoint(eager=True)
                    failed = bool(
                        out.filter(F.col(ERROR_COL).isNotNull()).limit(1).count()
                    )
            except Exception:
                state["failures"] += 1
                if state["failures"] >= max_failures:
                    state["opened_at"] = clock()
                raise
            if failed:
                state["failures"] += 1
                if state["failures"] >= max_failures:
                    state["opened_at"] = clock()
            else:
                state["failures"] = 0
            return out

        return wrapped

    return mw


def timeout(seconds: float) -> Middleware:
    """Bound handler wall-clock time (`middleware/timeout.go:12-24`: cancel
    the message context after T).

    There is no per-row cancellation in Spark; the micro-batch analog is a
    bounded batch: the handler's plan is forced in a worker thread under a
    dedicated job group, and on expiry the group's Spark jobs are cancelled
    (tasks actually stop — this is Spark's own cooperative cancellation, the
    moral twin of Go context cancellation) and every input message errors
    with ``timeout``, for downstream poison/retry middleware to consume.
    """
    import threading
    import uuid as _uuid

    def mw(fn: HandlerFn) -> HandlerFn:
        def wrapped(df: DataFrame) -> DataFrame:
            sc = df.sparkSession.sparkContext
            group = f"wm-timeout-{_uuid.uuid4().hex[:12]}"
            result: dict = {}

            def run():
                try:
                    sc.setJobGroup(group, f"timeout({seconds}s) handler", True)
                    # eager snapshot = the forced run under the cancellable
                    # group; GC-released after the batch
                    out = fn(df).localCheckpoint(eager=True)
                    result["out"] = out
                except Exception as e:  # noqa: BLE001 — includes cancellation
                    result["err"] = e
                finally:
                    sc.setJobGroup("", "")

            t = threading.Thread(target=run, daemon=True)
            t.start()
            t.join(seconds)
            if t.is_alive():
                sc.cancelJobGroup(group)
                t.join(5.0)
                return df.withColumn(
                    ERROR_COL, F.lit(f"timeout: handler exceeded {seconds}s")
                )
            if "err" in result:
                raise result["err"]
            return result["out"]

        return wrapped

    return mw
