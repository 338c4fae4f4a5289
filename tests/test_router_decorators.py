"""Router run-time surface added for reference parity:

- publisher/subscriber decorators (`message/router.go:226-240, 724-760`;
  transform constructors `message/decorator.go:62-96`);
- HandlerHandle: post-registration handler-level middleware + per-handler
  stop (`message/router.go:272` return value, `:691-722`);
- handlers()/is_running/is_closed introspection (`:241-253, 545-561, 611`).
"""

from __future__ import annotations

import uuid as _uuid

import pytest
from pyspark.sql import functions as F

from watermill_spark.message import messages_df, new_message, with_metadata
from watermill_spark.sources import (
    ForwardingPubSubDecorator,
    MemoryPubSub,
    SQLitePubSub,
    message_transform_publisher_decorator,
    message_transform_subscriber_decorator,
)
from watermill_spark.sources.sqldb import GroupSubscriber
from watermill_spark.streaming import Router
from watermill_spark.streaming.router import passthrough_handler


@pytest.fixture
def ps(spark):
    return MemoryPubSub(spark)


def _msgs(spark, n, **meta):
    return messages_df(
        spark, [new_message(f"p{i}", metadata={"n": str(i), **meta}) for i in range(n)]
    )


def _topic(p):
    return f"{p}-{_uuid.uuid4().hex[:6]}"


def test_publisher_decorator_transforms_outgoing(ps, spark):
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 5))
    r = Router()
    r.add_publisher_decorators(
        message_transform_publisher_decorator(
            lambda df: with_metadata(df, stamped="yes")
        )
    )
    r.add_handler("h", tin, ps, tout, ps, passthrough_handler)
    r.run_once()
    rows = ps.subscribe(tout).collect()
    assert len(rows) == 5
    assert all(dict(x["metadata"])["stamped"] == "yes" for x in rows)


def test_subscriber_decorator_transforms_incoming(ps, spark):
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 4))
    r = Router()
    r.add_subscriber_decorators(
        message_transform_subscriber_decorator(
            lambda df: df.withColumn(
                "payload", F.upper(F.col("payload").cast("string")).cast("binary")
            )
        )
    )
    r.add_handler("h", tin, ps, tout, ps, passthrough_handler)
    r.run_once()
    rows = ps.subscribe(tout).collect()
    assert len(rows) == 4
    assert all(bytes(x["payload"]).decode().startswith("P") for x in rows)


def test_stateful_decorator_counts_across_passes(ps, spark):
    """Decorators resolve once per handler: a counting decorator keeps its
    state across run_once passes instead of being re-wrapped per batch."""
    tin, tout = _topic("in"), _topic("out")

    class Counting(ForwardingPubSubDecorator):
        publishes = 0

        def publish(self, topic, df):
            type(self).publishes += 1
            self.inner.publish(topic, df)

    instances = []

    def dec(pub):
        w = Counting(pub)
        instances.append(w)
        return w

    r = Router()
    r.add_publisher_decorators(dec)
    r.add_handler("h", tin, ps, tout, ps, passthrough_handler)
    ps.publish(tin, _msgs(spark, 2))
    r.run_once()
    ps.publish(tin, _msgs(spark, 2))
    r.run_once()
    assert len(instances) == 1  # decorated once, not per pass
    assert Counting.publishes == 2


def test_decorator_forwards_commit_for_run_polling(spark):
    """A ForwardingPubSubDecorator keeps the cursor capability visible, so
    run_polling accepts a decorated GroupSubscriber and the cursor still
    advances (no reprocessing across passes)."""
    sql = SQLitePubSub(spark, ":memory:")
    tin, tout = _topic("in"), _topic("out")
    out = MemoryPubSub(spark)
    sub = GroupSubscriber(sql, "g1")
    sql.publish(tin, _msgs(spark, 6))

    r = Router()
    r.add_subscriber_decorators(
        message_transform_subscriber_decorator(
            lambda df: with_metadata(df, via="decorated")
        )
    )
    r.add_handler("h", tin, sub, tout, out, passthrough_handler)
    consumed = r.run_polling(interval_sec=0.01, idle_passes_to_stop=2)
    assert consumed == 6
    rows = out.subscribe(tout).collect()
    assert len(rows) == 6  # cursor advanced — no duplicates on later passes
    assert all(dict(x["metadata"])["via"] == "decorated" for x in rows)


def test_handler_handle_add_middleware_post_registration(ps, spark):
    tin, tout = _topic("in"), _topic("out")
    ps.publish(tin, _msgs(spark, 3))
    r = Router()
    handle = r.add_handler("h", tin, ps, tout, ps, passthrough_handler)
    handle.add_middleware(
        lambda nxt: lambda df: nxt(with_metadata(df, late_mw="1"))
    )
    r.run_once()
    rows = ps.subscribe(tout).collect()
    assert all(dict(x["metadata"])["late_mw"] == "1" for x in rows)


def test_handler_stop_skips_only_that_handler(ps, spark):
    t1, t2, o1, o2 = (_topic(p) for p in ("a", "b", "oa", "ob"))
    ps.publish(t1, _msgs(spark, 2))
    ps.publish(t2, _msgs(spark, 2))
    r = Router()
    h1 = r.add_handler("h1", t1, ps, o1, ps, passthrough_handler)
    r.add_handler("h2", t2, ps, o2, ps, passthrough_handler)
    h1.stop()
    assert h1.stopped
    r.run_once()
    assert ps.subscribe(o1).count() == 0  # stopped: skipped
    assert ps.subscribe(o2).count() == 2  # sibling unaffected


def test_run_handlers_starts_late_registrations(spark, tmp_path):
    """RunHandlers analog (`message/router.go:426-495`): a handler added
    after run_stream is picked up by run_handlers without touching the
    already-started ones."""
    from watermill_spark.sources import ParquetPubSub

    ps = ParquetPubSub(spark, str(tmp_path / "topics"))
    t1, t2, o1, o2 = (_topic(p) for p in ("a", "b", "oa", "ob"))
    ps.publish(t1, _msgs(spark, 3))
    ps.publish(t2, _msgs(spark, 4))

    r = Router()
    r.add_handler("h1", t1, ps, o1, ps, passthrough_handler)
    r.run_stream(str(tmp_path / "ckpt"), available_now=True)
    r.await_termination()
    assert ps.subscribe(o1).count() == 3

    r.add_handler("h2", t2, ps, o2, ps, passthrough_handler)
    started = r.run_handlers(str(tmp_path / "ckpt"), available_now=True)
    assert len(started) == 1  # only the late handler starts
    r.await_termination()
    assert ps.subscribe(o2).count() == 4
    assert ps.subscribe(o1).count() == 3  # h1 not re-run
    r.close()


def test_run_stream_file_cap_keeps_subscriber_decorators(spark, tmp_path):
    """max_files_per_trigger reaches the transport through the subscriber
    decorators: every message is transformed, one file per micro-batch."""
    from watermill_spark.sources import ParquetPubSub

    ps = ParquetPubSub(spark, str(tmp_path / "topics"))
    tin, tout = _topic("in"), _topic("out")
    for i in range(3):  # three files
        ps.publish(tin, _msgs(spark, 2, file=str(i)).coalesce(1))
    sizes = []

    def counting_handler(df):
        sizes.append(df.count())
        return df

    r = Router()
    r.add_subscriber_decorators(
        message_transform_subscriber_decorator(
            lambda df: with_metadata(df, seen="yes")
        )
    )
    r.add_handler("h", tin, ps, tout, ps, counting_handler)
    r.run_stream(str(tmp_path / "ckpt"), available_now=True, max_files_per_trigger=1)
    r.await_termination()
    r.close()
    rows = ps.subscribe(tout).collect()
    assert len(rows) == 6
    assert all(dict(x["metadata"])["seen"] == "yes" for x in rows)
    assert sorted(sizes) == [2, 2, 2]


def test_introspection_accessors(ps):
    r = Router()
    r.add_handler("h", "a", ps, "b", ps, passthrough_handler)
    assert set(r.handlers()) == {"h"}
    assert not r.is_running and not r.is_closed
    r.run_once()
    assert r.is_running
    r.close()
    assert r.is_closed and not r.is_running


def test_late_decorator_applies_to_existing_handler(ps, spark):
    """Decorators registered AFTER a handler's first pass re-resolve the
    endpoint (reference re-decorates at each Run) instead of being
    silently ignored."""
    tin, tout = _topic("in"), _topic("out")
    r = Router()
    r.add_handler("h", tin, ps, tout, ps, passthrough_handler)
    ps.publish(tin, _msgs(spark, 2))
    r.run_once()  # endpoints resolve undecorated

    r.add_publisher_decorators(
        message_transform_publisher_decorator(
            lambda df: with_metadata(df, late="yes")
        )
    )
    ps.publish(tin, _msgs(spark, 2))
    r.run_once()  # cursorless memory transport re-reads all 4 inputs
    metas = [dict(x["metadata"]) for x in ps.subscribe(tout).collect()]
    assert len(metas) == 6  # 2 undecorated (pass 1) + 4 decorated (pass 2)
    assert sum("late" in m for m in metas) == 4


def test_run_stream_rejects_while_active(ps, spark):
    """Second run_stream while queries are live raises instead of orphaning
    them / colliding on checkpoints (ErrRouterIsAlreadyRunning analog)."""
    r = Router()
    h = r.add_handler("h", "a", ps, "b", ps, passthrough_handler)

    class FakeActiveQuery:
        isActive = True

        def stop(self):
            self.isActive = False

    h._h.query = FakeActiveQuery()
    with pytest.raises(RuntimeError, match="already running"):
        r.run_stream("/tmp/ckpt-unused")


def test_run_handlers_rejects_closed_router(ps):
    r = Router()
    r.add_handler("h", "a", ps, "b", ps, passthrough_handler)
    r.close()
    with pytest.raises(RuntimeError, match="closed"):
        r.run_handlers("/tmp/ckpt-unused")


def test_retry_publisher_forwards_cursor_capability(spark):
    """RetryPublisher on the forwarding base keeps commit() visible, so
    run_polling accepts a retry-wrapped GroupSubscriber."""
    from watermill_spark.sources import RetryPublisher, SQLitePubSub
    from watermill_spark.sources.sqldb import GroupSubscriber

    sql = SQLitePubSub(spark, ":memory:")
    tin, tout = _topic("in"), _topic("out")
    out = MemoryPubSub(spark)
    sub = RetryPublisher(GroupSubscriber(sql, "g"), max_retries=1,
                         initial_interval_sec=0.0)
    assert callable(sub.commit)
    sql.publish(tin, _msgs(spark, 3))
    r = Router()
    r.add_handler("h", tin, sub, tout, out, passthrough_handler)
    assert r.run_polling(interval_sec=0.01, idle_passes_to_stop=2) == 3
    assert out.subscribe(tout).count() == 3


def test_late_decorator_wraps_existing_chain_preserving_state(ps, spark):
    """Late-registered decorators wrap AROUND the resolved chain: inner
    stateful decorators keep their accumulated counts."""
    tin, tout = _topic("in"), _topic("out")

    counts = {"n": 0}

    class Counting(ForwardingPubSubDecorator):
        def publish(self, topic, df):
            counts["n"] += 1
            self.inner.publish(topic, df)

    r = Router()
    r.add_publisher_decorators(Counting)
    r.add_handler("h", tin, ps, tout, ps, passthrough_handler)
    ps.publish(tin, _msgs(spark, 1))
    r.run_once()
    assert counts["n"] == 1

    r.add_publisher_decorators(
        message_transform_publisher_decorator(
            lambda df: with_metadata(df, outer="1")
        )
    )
    r.run_once()  # re-resolves: transform wraps the SAME Counting instance
    assert counts["n"] == 2  # state survived the late registration


def test_run_polling_revalidates_commit_each_pass(spark):
    """A late decorator that hides commit() makes run_polling fail loudly
    (wrapper-aware message) instead of silently re-reading full topics."""
    from watermill_spark.sources import SQLitePubSub
    from watermill_spark.sources.sqldb import GroupSubscriber

    sql = SQLitePubSub(spark, ":memory:")
    tin, tout = _topic("in"), _topic("out")
    out = MemoryPubSub(spark)
    r = Router()
    r.add_handler("h", tin, GroupSubscriber(sql, "g"), tout, out,
                  passthrough_handler)
    sql.publish(tin, _msgs(spark, 1))
    assert r.run_polling(interval_sec=0.01, idle_passes_to_stop=1) == 1

    class Opaque:  # hides every capability, including commit
        def __init__(self, inner):
            self.inner = inner
            self.spark = inner.spark

        def subscribe(self, topic):
            return self.inner.subscribe(topic)

    r.add_subscriber_decorators(Opaque)
    with pytest.raises(ValueError, match="does not forward commit"):
        r.run_polling(interval_sec=0.01, idle_passes_to_stop=1)
