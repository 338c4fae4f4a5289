"""Router + middleware semantics (port of `message/router_test.go` and
`message/router/middleware/*_test.go` behaviors that survive the
channel→micro-batch model change)."""

from __future__ import annotations

import uuid as _uuid

import pytest
from pyspark.sql import functions as F

from watermill_spark.message import messages_df, metadata_get, new_message, with_metadata
from watermill_spark.sources import MemoryPubSub
from watermill_spark.streaming import Router, RouterConfig, middleware as mw
from watermill_spark.streaming.router import ERROR_COL, passthrough_handler


@pytest.fixture
def ps(spark):
    return MemoryPubSub(spark)


def _msgs(spark, n, **meta):
    return messages_df(
        spark, [new_message(f"p{i}", metadata={"n": str(i), **meta}) for i in range(n)]
    )


def _topic(p):
    return f"{p}-{_uuid.uuid4().hex[:6]}"


def test_handler_transforms_and_publishes(ps, spark):
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 10))
    r = Router()
    r.add_handler(
        "upper", tin, ps, tout, ps,
        lambda df: df.withColumn("payload", F.upper(F.col("payload").cast("string")).cast("binary")),
    )
    r.run_once()
    rows = ps.subscribe(tout).collect()
    assert len(rows) == 10
    assert all(bytes(r["payload"]).decode().startswith("P") for r in rows)


def test_duplicate_handler_name_rejected(ps):
    r = Router()
    r.add_handler("h", "a", ps, "b", ps, passthrough_handler)
    with pytest.raises(ValueError):  # router.go:288-290 panics; we raise
        r.add_handler("h", "c", ps, "d", ps, passthrough_handler)


def test_flatmap_handler_multiplies_rows(ps, spark):
    """HandlerFunc returns 0..N messages (`message/router.go:32`)."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 5))
    r = Router()
    r.add_handler(
        "dup", tin, ps, tout, ps,
        lambda df: df.unionByName(df.withColumn("uuid", F.expr("uuid()"))),
    )
    r.run_once()
    assert ps.subscribe(tout).count() == 10


def test_consumer_handler_no_publish(ps, spark):
    tin = _topic("in")
    ps.publish(tin, _msgs(spark, 3))
    seen = {}
    r = Router()

    def consume(df):
        seen["n"] = df.count()
        return df

    r.add_consumer_handler("sink", tin, ps, consume)
    r.run_once()
    assert seen["n"] == 3


def test_middleware_order_first_added_outermost(ps, spark):
    """`message/router.go:651-659`: first-added runs first on the way in.

    Each middleware appends its tag to a metadata trail pre-handler; the
    trail read back must be router-mw1, router-mw2, handler-mw."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 1))

    def tagger(tag):
        def m(fn):
            def wrapped(df):
                trail = F.coalesce(metadata_get("trail"), F.lit(""))
                return fn(with_metadata(df, trail=F.concat(trail, F.lit(tag))))
            return wrapped
        return m

    r = Router()
    r.add_middleware(tagger("A"), tagger("B"))
    r.add_handler("h", tin, ps, tout, ps, passthrough_handler, middleware=[tagger("C")])
    r.run_once()
    assert ps.subscribe(tout).head()["metadata"]["trail"] == "ABC"


def test_unhandled_error_nacks(ps, spark):
    """Unhandled handler error ⇒ batch raises (nack ⇒ replay),
    `message/router.go:823-829`."""
    tin = _topic("in")
    ps.publish(tin, _msgs(spark, 2))
    r = Router(RouterConfig(fail_on_unhandled_errors=True))
    r.add_consumer_handler(
        "bad", tin, ps,
        lambda df: df.withColumn(ERROR_COL, F.lit("boom")),
    )
    with pytest.raises(RuntimeError, match="boom"):
        r.run_once()


def test_recoverer_turns_exception_into_error_rows(ps, spark):
    """`middleware/recoverer.go:23-37`."""
    tin = _topic("in")
    ps.publish(tin, _msgs(spark, 2))
    r = Router(RouterConfig(fail_on_unhandled_errors=False))

    def exploding(df):
        raise RuntimeError("kaboom")

    out = {}
    def capture(fn):
        def wrapped(df):
            res = fn(df)
            out["errors"] = [x[ERROR_COL] for x in res.select(ERROR_COL).collect()]
            return res
        return wrapped

    r.add_consumer_handler("h", tin, ps, exploding, middleware=[capture, mw.recoverer])
    r.run_once()
    assert out["errors"] == ["RuntimeError: kaboom"] * 2


def test_poison_queue_splits_and_stamps(ps, spark):
    """`middleware/poison.go:30-60` + metadata keys `:14-19`."""
    tin, tout, dlq = _topic("in"), _topic("out"), _topic("poison")
    ps.publish(tin, _msgs(spark, 10))
    r = Router()
    bad = metadata_get("n").cast("int") % 3 == 0
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler,
        middleware=[mw.poison_queue(ps, dlq), mw.fail_rows(bad, "n divisible by 3")],
    )
    r.run_once()
    assert ps.subscribe(tout).count() == 6
    poisoned = ps.subscribe(dlq).collect()
    assert len(poisoned) == 4
    m = dict(poisoned[0]["metadata"])
    assert m[mw.REASON_POISONED] == "n divisible by 3"
    assert m[mw.POISONED_TOPIC] == tin
    assert m[mw.POISONED_HANDLER] == "h"


def test_poison_queue_with_filter_splits_three_ways(ps, spark):
    """`middleware/poison.go:46-60`: qualifying errors → DLQ; non-qualifying
    errors stay error rows (⇒ router nack); ok rows publish."""
    tin, tout, dlq = _topic("in"), _topic("out"), _topic("poison")
    ps.publish(tin, _msgs(spark, 10))
    r = Router(RouterConfig(fail_on_unhandled_errors=True))
    n = metadata_get("n").cast("int")
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler,
        middleware=[
            mw.poison_queue_with_filter(
                ps, dlq, lambda err: err.contains("poisonable")
            ),
            # n%3==0 → poisonable error (4 msgs); n==1 → other error (1 msg)
            mw.fail_rows(n % 3 == 0, "poisonable: n divisible by 3"),
            mw.fail_rows(n == 1, "transient: leave for nack"),
        ],
    )
    with pytest.raises(RuntimeError, match="unhandled message errors"):
        r.run_once()  # the non-qualifying error nacks the batch
    poisoned = ps.subscribe(dlq).collect()
    assert len(poisoned) == 4
    assert all(
        dict(p["metadata"])[mw.REASON_POISONED].startswith("poisonable")
        for p in poisoned
    )

    # with the transient error whitelisted (ignore_errors clears it, the
    # message flows on as OK — pinned by test_ignore_errors_whitelist),
    # the batch completes: 5 untouched + 1 cleared = 6 rows out
    tout2, dlq2 = _topic("out2"), _topic("poison2")
    r2 = Router()
    r2.add_handler(
        "h", tin, ps, tout2, ps, passthrough_handler,
        middleware=[
            mw.ignore_errors(["transient: leave for nack"]),
            mw.poison_queue_with_filter(
                ps, dlq2, lambda err: err.contains("poisonable")
            ),
            mw.fail_rows(n % 3 == 0, "poisonable: n divisible by 3"),
            mw.fail_rows(n == 1, "transient: leave for nack"),
        ],
    )
    r2.run_once()
    assert ps.subscribe(tout2).count() == 6
    assert ps.subscribe(dlq2).count() == 4


def test_ignore_errors_whitelist(ps, spark):
    """`middleware/ignore_errors.go:14-38`."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 4))
    r = Router()
    bad = metadata_get("n").cast("int") == 1
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler,
        middleware=[mw.ignore_errors(["known-bad"]), mw.fail_rows(bad, "known-bad")],
    )
    r.run_once()  # error swallowed, message dropped silently at publish? No:
    # ignore_errors clears the error => message flows through as OK
    assert ps.subscribe(tout).count() == 4


def test_retry_until_success(ps, spark):
    """`middleware/retry.go:60-146`: flaky handler succeeds on 3rd try."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 6))
    attempts = {"n": 0}

    def flaky(df):
        attempts["n"] += 1
        if attempts["n"] < 3:
            return df.withColumn(ERROR_COL, F.lit(f"attempt {attempts['n']} failed"))
        return df

    r = Router()
    r.add_handler("h", tin, ps, tout, ps, flaky, middleware=[mw.retry(max_retries=5)])
    r.run_once()
    assert attempts["n"] == 3
    assert ps.subscribe(tout).count() == 6


def test_retry_exhaustion_keeps_error(ps, spark):
    tin = _topic("in")
    ps.publish(tin, _msgs(spark, 2))
    r = Router(RouterConfig(fail_on_unhandled_errors=True))
    r.add_consumer_handler(
        "h", tin, ps,
        lambda df: df.withColumn(ERROR_COL, F.lit("always fails")),
        middleware=[mw.retry(max_retries=2)],
    )
    with pytest.raises(RuntimeError, match="always fails"):
        r.run_once()


def test_deduplicator_drops_same_payload(ps, spark):
    """`middleware/deduplicator.go:112-124` (sha256 of payload)."""
    tin, tout = _topic("in"), _topic("out")
    msgs = [new_message("same") for _ in range(5)] + [new_message("other")]
    ps.publish(tin, messages_df(spark, msgs))
    r = Router()
    r.add_handler("h", tin, ps, tout, ps, passthrough_handler, middleware=[mw.deduplicator()])
    r.run_once()
    assert ps.subscribe(tout).count() == 2


def test_throttle_bounds_invocations_without_loss(ps, spark):
    """`middleware/throttle.go:17-31`: throttle delays, never drops — all 50
    messages arrive, but no single handler invocation sees more than 10."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 50))
    seen: list[int] = []

    def counting_handler(df):
        seen.append(df.count())
        return df

    r = Router()
    r.add_handler(
        "h", tin, ps, tout, ps, counting_handler, middleware=[mw.throttle(10)]
    )
    r.run_once()
    assert ps.subscribe(tout).count() == 50
    assert seen and max(seen) <= 10 and sum(seen) == 50


def test_throttle_rate_spaces_chunks(ps, spark):
    """Duration knob: N msgs per `per_seconds` — elapsed time reflects the
    inter-chunk spacing (3 chunks of ≤5 over 12 msgs ⇒ ≥2 sleeps)."""
    import time as _t

    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 12))
    r = Router()
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler,
        middleware=[mw.throttle(5, per_seconds=0.2)],
    )
    t0 = _t.monotonic()
    r.run_once()
    elapsed = _t.monotonic() - t0
    assert ps.subscribe(tout).count() == 12
    assert elapsed >= 0.4  # two inter-chunk sleeps


def test_correlation_id_set_and_preserved(ps, spark):
    """`middleware/correlation.go:28-43`."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 2))
    preset = with_metadata(_msgs(spark, 1), correlation_id="fixed-id")
    ps.publish(tin, preset)
    r = Router()
    r.add_handler("h", tin, ps, tout, ps, passthrough_handler, middleware=[mw.correlation_id])
    r.run_once()
    rows = ps.subscribe(tout).collect()
    ids = [r["metadata"].get("correlation_id") for r in rows]
    assert all(ids)
    assert "fixed-id" in ids


def test_duplicator_runs_twice(ps, spark):
    """`middleware/duplicator.go:8-22`."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 3))
    r = Router()
    r.add_handler("h", tin, ps, tout, ps, passthrough_handler, middleware=[mw.duplicator])
    r.run_once()
    assert ps.subscribe(tout).count() == 6


def test_random_fail_chaos(ps, spark):
    """`middleware/randomfail.go`: p=1 fails everything; p=0 nothing."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 5))
    r = Router(RouterConfig(fail_on_unhandled_errors=True))
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler, middleware=[mw.random_fail(1.0, seed=7)]
    )
    with pytest.raises(RuntimeError):
        r.run_once()
    r2 = Router()
    r2.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler, middleware=[mw.random_fail(0.0, seed=7)]
    )
    r2.run_once()
    assert ps.subscribe(tout).count() == 5


def test_delay_on_error_stamps_backoff(ps, spark):
    """`middleware/delay_on_error.go:23-47`."""
    tin, tout, dlq = _topic("in"), _topic("out"), _topic("dlq")
    ps.publish(tin, _msgs(spark, 2))
    r = Router()
    bad = metadata_get("n").cast("int") == 0
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler,
        middleware=[
            mw.poison_queue(ps, dlq),
            mw.delay_on_error(base_sec=10),
            mw.fail_rows(bad, "fails"),
        ],
    )
    r.run_once()
    assert ps.subscribe(tout).count() == 1
    poisoned = ps.subscribe(dlq).head()
    meta = dict(poisoned["metadata"])
    assert meta[mw.DELAYED_FOR] == "10s"
    assert mw.DELAYED_UNTIL in meta


def test_instant_ack_drops_failures(ps, spark):
    """`middleware/instant_ack.go`: at-most-once — failed messages are
    dropped, never replayed, batch still succeeds."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 4))
    r = Router(RouterConfig(fail_on_unhandled_errors=True))
    bad = metadata_get("n").cast("int") < 2
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler,
        middleware=[mw.instant_ack, mw.fail_rows(bad, "lost")],
    )
    r.run_once()  # no raise
    assert ps.subscribe(tout).count() == 2


def test_circuit_breaker_opens_and_recovers(spark):
    """Breaker opens after max_failures consecutive failing batches, fails
    fast while open, half-opens after the cooldown, closes on success
    (`middleware/circuit_breaker.go:17-37`)."""
    from watermill_spark.streaming.middleware import CircuitBreakerOpen, circuit_breaker

    df = messages_df(spark, [new_message("x")])
    now = {"t": 0.0}
    cb = circuit_breaker(max_failures=2, open_seconds=30.0, clock=lambda: now["t"])

    calls = {"n": 0}

    def failing(d):
        calls["n"] += 1
        raise RuntimeError("downstream dead")

    wrapped = cb(failing)
    for _ in range(2):  # two consecutive failures -> open
        with pytest.raises(RuntimeError):
            wrapped(df)
    with pytest.raises(CircuitBreakerOpen):  # open: handler not invoked
        wrapped(df)
    assert calls["n"] == 2

    now["t"] = 31.0  # cooldown elapsed -> half-open lets one batch through
    ok = cb(lambda d: d)
    # same breaker state dict is shared via the middleware closure
    wrapped_ok = ok  # noqa: F841 — readability
    out = cb(lambda d: d)(df)
    assert out.count() == 1
    # closed again: failures reset, next batch runs
    assert cb(lambda d: d)(df).count() == 1


def test_retry_publisher_retries_then_succeeds(spark):
    """RetryPublisher: doubling backoff, success after transient failures
    (`internal/publisher/retry.go:55-108`)."""
    from watermill_spark.sources import RetryPublisher
    from watermill_spark.sources.memory import MemoryPubSub

    inner = MemoryPubSub(spark)
    fails = {"n": 2}
    orig = inner.publish

    def flaky(topic, df):
        if fails["n"] > 0:
            fails["n"] -= 1
            raise RuntimeError("transient")
        return orig(topic, df)

    inner.publish = flaky
    rp = RetryPublisher(inner, max_retries=3, initial_interval_sec=0.0)
    rp.publish("t", messages_df(spark, [new_message("x")]))
    assert rp.subscribe("t").count() == 1

    fails["n"] = 99  # always fails -> raises after max_retries
    with pytest.raises(RuntimeError):
        rp.publish("t", messages_df(spark, [new_message("y")]))


def test_timeout_passes_fast_handler(ps, spark):
    """middleware/timeout.go:12-24 — a handler inside budget is untouched."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 5))
    r = Router()
    r.add_handler("fast", tin, ps, tout, ps, passthrough_handler,
                  middleware=[mw.timeout(30.0)])
    r.run_once()
    assert len(ps.subscribe(tout).collect()) == 5


def test_timeout_errors_slow_handler(ps, spark):
    """A handler exceeding the budget yields all-errored rows (batch analog
    of context cancellation), which poison/ignore middleware can consume."""
    import time as _time

    tin, tout, dlq = _topic("in"), _topic("out"), _topic("poison")
    ps.publish(tin, _msgs(spark, 3))

    def slow(df):
        _time.sleep(3.0)  # driver-side stall: plan building exceeds budget
        return df

    r = Router()
    r.add_handler("slow", tin, ps, tout, ps, slow,
                  middleware=[mw.poison_queue(ps, dlq), mw.timeout(0.5)])
    r.run_once()
    assert len(ps.subscribe(tout).collect()) == 0
    poisoned = ps.subscribe(dlq).collect()
    assert len(poisoned) == 3
    assert all("timeout" in row["metadata"][mw.REASON_POISONED] for row in poisoned)


def test_bulk_read_returns_available_on_timeout(ps, spark):
    """message/subscriber/read.go:10-27 — deliver what arrived when the
    deadline hits; full limit when the topic has enough."""
    from watermill_spark.sources import bulk_read

    t = _topic("bulk")
    ps.publish(t, _msgs(spark, 4))
    assert len(bulk_read(ps, t, limit=10, timeout_sec=0.3)) == 4
    assert len(bulk_read(ps, t, limit=3, timeout_sec=5.0)) == 3


def test_bulk_read_with_deduplication(ps, spark):
    """read.go:31-53 — redelivered UUIDs count once."""
    from watermill_spark.message import messages_df, new_message
    from watermill_spark.sources import bulk_read_with_deduplication

    t = _topic("bulkdedup")
    m = new_message("p", metadata={})
    ps.publish(t, messages_df(spark, [m, m]))  # same uuid twice
    ps.publish(t, _msgs(spark, 2))
    rows = bulk_read_with_deduplication(ps, t, limit=10, timeout_sec=0.3)
    assert len(rows) == 3


def test_multiplier_merges_k_subscriptions(ps, spark):
    """internal/subscriber/multiplier.go:23-71 — K subscriptions, one
    stream; with a broadcast transport deliveries multiply by K."""
    from watermill_spark.sources import multiplier

    t = _topic("mult")
    ps.publish(t, _msgs(spark, 4))
    assert multiplier(ps.subscribe, t, 3).count() == 12
    with pytest.raises(ValueError):
        multiplier(ps.subscribe, t, 0)


def test_signals_handler_closes_router(ps, spark):
    """message/router/plugin/signals.go:13-27 — signal → graceful close."""
    import os
    import signal as _signal

    from watermill_spark.streaming import signals_handler

    r = Router()
    r.add_handler("h", _topic("a"), ps, _topic("b"), ps, passthrough_handler)
    restore = signals_handler(r)
    try:
        os.kill(os.getpid(), _signal.SIGINT)
        import time as _time

        _time.sleep(0.1)
        assert r.closed
    finally:
        restore()


def test_recoverer_happy_path_runs_no_jobs(spark):
    """VERDICT r1 #6: the bare recoverer must not materialize on the happy
    path — wrapping a passthrough runs zero Spark jobs."""
    df = messages_df(spark, [new_message("x")])
    spark.sparkContext.setJobGroup("recoverer-lazy", "happy-path probe")
    try:
        out = mw.recoverer(lambda d: d)(df)
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup("recoverer-lazy")
        assert list(ids) == []  # nothing forced at wrap time
    finally:
        spark.sparkContext.setJobGroup("", "")
    assert out.count() == 1


def test_recoverer_strict_converts_runtime_errors(spark):
    """recoverer(strict=True) converts execution-time failures to error
    rows; the bare (lazy) form lets them surface at the sink action."""
    df = messages_df(spark, [new_message("x"), new_message("y")])

    def runtime_bomb(d):
        # plan builds fine; blows up only when executed
        return d.withColumn("boom", F.raise_error(F.lit("runtime kaboom")))

    out = mw.recoverer(strict=True)(runtime_bomb)(df)
    errs = [r[ERROR_COL] for r in out.select(ERROR_COL).collect()]
    assert len(errs) == 2 and all("kaboom" in e for e in errs)

    lazy_out = mw.recoverer(runtime_bomb)(df)
    with pytest.raises(Exception, match="kaboom"):
        # collect = the sink's full-column materialization (count() would
        # prune the erroring column and legitimately succeed)
        lazy_out.collect()


def test_circuit_breaker_strict_counts_error_rows(spark):
    """strict=True sniffs `_wm_error` rows as failures; default mode stays
    lazy and only counts raised exceptions."""
    from watermill_spark.streaming.middleware import CircuitBreakerOpen, circuit_breaker

    df = messages_df(spark, [new_message("x")]).withColumn(
        ERROR_COL, F.lit("bad row")
    )
    now = {"t": 0.0}
    cb = circuit_breaker(max_failures=2, open_seconds=30.0, clock=lambda: now["t"], strict=True)
    wrapped = cb(lambda d: d)
    wrapped(df)
    wrapped(df)  # two error-rowed batches -> open
    with pytest.raises(CircuitBreakerOpen):
        wrapped(df)


def test_circuit_breaker_default_catches_recoverer_error_rows(spark):
    """Default config (strict=True) must see failures that inner middleware
    converts to `_wm_error` rows instead of raising — the
    recoverer/fail_rows composition. In lax mode those rows are invisible
    (the router's error-row raise happens outside the wrapper), so lax mode
    grants NO breaker protection to error-rowed handlers; the default does.
    """
    from watermill_spark.streaming.middleware import (
        CircuitBreakerOpen,
        circuit_breaker,
        recoverer,
    )

    def bomb(df):
        raise RuntimeError("dependency down")  # plan-build-time failure

    df = messages_df(spark, [new_message("x")]).withColumn(
        ERROR_COL, F.lit(None).cast("string")
    )
    now = {"t": 0.0}
    cb = circuit_breaker(max_failures=2, open_seconds=30.0, clock=lambda: now["t"])
    pipeline = cb(recoverer()(bomb))  # breaker outside recoverer
    pipeline(df)
    pipeline(df)  # two error-rowed batches -> open
    with pytest.raises(CircuitBreakerOpen):
        pipeline(df)
    now["t"] = 31.0  # half-open: a clean batch closes it
    cb(lambda d: d)  # fresh wrap shares state dict? no — same cb instance
    out = cb(recoverer()(lambda d: d))(df)
    assert out.filter(F.col(ERROR_COL).isNotNull()).count() == 0


def test_poison_filter_does_not_redeliver_dlq_on_replay(ps, spark):
    """`poison_queue_with_filter` remembers dead-lettered uuids per instance:
    the nack-replay of a batch with a surviving non-qualifying error must
    not duplicate the DLQ (the reference acks poisoned messages
    individually, so they are never redelivered)."""
    tin, tout, dlq = _topic("in"), _topic("out"), _topic("poison")
    ps.publish(tin, _msgs(spark, 10))
    n = metadata_get("n").cast("int")
    r = Router(RouterConfig(fail_on_unhandled_errors=True))
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler,
        middleware=[
            mw.poison_queue_with_filter(
                ps, dlq, lambda err: err.contains("poisonable")
            ),
            mw.fail_rows(n % 3 == 0, "poisonable"),
            mw.fail_rows(n == 1, "transient"),
        ],
    )
    for _ in range(3):  # three nack-replays of the same batch
        with pytest.raises(RuntimeError, match="unhandled message errors"):
            r.run_once()
    assert ps.subscribe(dlq).count() == 4  # once per message, not per replay


def test_poison_filter_requeued_message_deadletters_again(ps, spark):
    """A message pulled out of the DLQ and re-fed (requeue: same uuid,
    incremented retries) is a NEW delivery: it dead-letters again instead
    of being silently dropped by the replay dedup."""
    tin, tout, dlq = _topic("in"), _topic("out"), _topic("poison")
    r = Router(RouterConfig(fail_on_unhandled_errors=False))
    pqf = mw.poison_queue_with_filter(ps, dlq, lambda err: err.contains("bad"))
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler,
        middleware=[pqf, mw.fail_rows(metadata_get("doom") == "1", "bad")],
    )
    ps.publish(tin, messages_df(spark, [
        new_message("p", uuid="victim", metadata={"doom": "1"})]))
    r.run_once()
    assert ps.subscribe(dlq).count() == 1

    # requeue: same uuid returns with retries=1 (what Requeuer stamps)
    ps.publish(tin, messages_df(spark, [
        new_message("p", uuid="victim",
                    metadata={"doom": "1", mw.REQUEUER_RETRIES: "1"})]))
    r.run_once()
    # memory transport re-reads the first copy too (suppressed, replay key)
    # but the requeued delivery dead-letters again: 2 total, not 1
    assert ps.subscribe(dlq).count() == 2


def test_poison_filter_wholly_poisoned_100k_batch_stays_distributed(
    spark, tmp_path, monkeypatch
):
    """A batch that is WHOLLY poisoned (bad deploy / schema break — the
    DLQ's core scenario) must dead-letter without any driver-side
    materialization (r4 verdict item 3: the old implementation collected
    every key and built an N-literal isin plan). DataFrame.collect and
    toPandas are hard-failed for the duration; the replay dedup must come
    from the distributed anti-join against the DLQ topic itself."""
    from pyspark.sql import DataFrame

    from watermill_spark.sources.parquet import ParquetPubSub
    from watermill_spark.streaming.router import CTX_HANDLER, CTX_SUB_TOPIC

    ps = ParquetPubSub(spark, str(tmp_path / "pq"))
    dlq = "poison"
    pqf = mw.poison_queue_with_filter(ps, dlq, lambda err: err.contains("bad"))
    handler = pqf(lambda df: df.withColumn(ERROR_COL, F.lit("bad: deploy")))
    big = (
        spark.range(100_000)
        .select(
            F.concat(F.lit("u"), F.col("id")).alias("uuid"),
            F.create_map(F.lit("n"), F.col("id").cast("string")).alias(
                "metadata"
            ),
            F.encode(F.lit("p"), "utf-8").alias("payload"),
            F.lit("tin").alias("topic"),
            F.current_timestamp().alias("event_time"),
        )
        .withColumn(CTX_SUB_TOPIC, F.lit("tin"))
        .withColumn(CTX_HANDLER, F.lit("h"))
        .withColumn(ERROR_COL, F.lit(None).cast("string"))
    )

    def boom(self, *a, **k):  # noqa: ARG001
        raise AssertionError("driver-side materialization in the poison path")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    assert handler(big).count() == 0  # every row dead-lettered, none survive
    monkeypatch.undo()
    assert ps.subscribe(dlq).count() == 100_000

    # checkpoint replay of the same batch: anti-join vs the DLQ suppresses
    # every key — still with collect forbidden
    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    assert handler(big).count() == 0
    monkeypatch.undo()
    assert ps.subscribe(dlq).count() == 100_000


def test_poison_queue_with_filter_shared_dlq_keeps_both_handlers(ps, spark):
    """Two middleware instances SHARING one DLQ topic: H1's dead-letter for
    a uuid must not suppress H2's for the same uuid — the replay-dedup key
    includes the poisoning (handler, topic) identity (review finding: a
    (uuid, retries)-only key made the second handler's failure vanish from
    the DLQ and its downstream entirely)."""
    tin, tout1, tout2 = _topic("in"), _topic("o1"), _topic("o2")
    dlq = _topic("shared-dlq")
    ps.publish(tin, _msgs(spark, 4))
    n = metadata_get("n").cast("int")
    r = Router()
    for name, tout in (("h1", tout1), ("h2", tout2)):
        r.add_handler(
            name, tin, ps, tout, ps, passthrough_handler,
            middleware=[
                mw.poison_queue_with_filter(
                    ps, dlq, lambda err: err.contains("bad")
                ),
                mw.fail_rows(n == 2, "bad: n is 2"),
            ],
        )
    r.run_once()
    poisoned = ps.subscribe(dlq).collect()
    assert len(poisoned) == 2
    assert {dict(p["metadata"])[mw.POISONED_HANDLER] for p in poisoned} == {
        "h1", "h2",
    }
    # and a replay of the same deliveries stays suppressed per handler
    r.run_once()
    assert ps.subscribe(dlq).count() == 2


def test_lax_router_batch_runs_one_job(ps, spark):
    """With fail_on_unhandled_errors=False the error rows are dropped, so
    nothing counts them: one pass over a batch is the publish alone, one
    Spark job (no cache and no error count beside it)."""
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 4))
    r = Router(RouterConfig(fail_on_unhandled_errors=False))
    r.add_handler(
        "h", tin, ps, tout, ps, passthrough_handler,
        middleware=[mw.fail_rows(metadata_get("n") == "0", "bad")],
    )
    sc = spark.sparkContext
    sc.setJobGroup("lax-router-pass", "one run_once pass")
    try:
        r.run_once()
        jobs = sc.statusTracker().getJobIdsForGroup("lax-router-pass")
    finally:
        sc.setJobGroup("", "")
    assert len(jobs) == 1
    assert sorted(r["metadata"]["n"] for r in ps.subscribe(tout).collect()) == [
        "1", "2", "3"
    ]
