"""Every metadata overwrite is a Set (`message/metadata.go:13-18`): the last
value wins, on a session left at Spark's default
``spark.sql.mapKeyDedupPolicy=EXCEPTION``.

Each stamp runs twice over its own output, so the second pass writes keys
the message already carries. A stamp that builds a map with a repeated key
fails here with ``DUPLICATED_MAP_KEY``; nothing may flip the policy to get
round it, so each test also checks that it is still ``EXCEPTION``.
"""

from __future__ import annotations

import uuid as _uuid

import pytest
from pyspark.sql import functions as F

from watermill_spark.components import Requeuer, delay_for, replying
from watermill_spark.components.requestreply import REPLY_ERROR, REPLY_HAS_ERROR
from watermill_spark.message import (
    DELAYED_FOR,
    POISONED_HANDLER,
    POISONED_TOPIC,
    REASON_POISONED,
    REQUEUER_RETRIES,
    messages_df,
    new_message,
    with_metadata,
)
from watermill_spark.sources import MemoryPubSub
from watermill_spark.sources.kafka import KafkaPubSub
from watermill_spark.streaming import Router, middleware as mw
from watermill_spark.streaming.router import ERROR_COL, passthrough_handler

POLICY = "spark.sql.mapKeyDedupPolicy"


@pytest.fixture
def strict(spark):
    before = spark.conf.get(POLICY)
    spark.conf.set(POLICY, "EXCEPTION")
    yield spark
    assert spark.conf.get(POLICY) == "EXCEPTION"
    spark.conf.set(POLICY, before)


@pytest.fixture
def ps(strict):
    return MemoryPubSub(strict)


def _t(p):
    return f"{p}-{_uuid.uuid4().hex[:6]}"


def _msgs(spark, n=2, **meta):
    return messages_df(
        spark, [new_message(f"p{i}", metadata={"n": str(i), **meta}) for i in range(n)]
    )


def _meta(df, key):
    return sorted(r["metadata"][key] for r in df.collect())


def test_with_metadata_overwrites_existing_key(strict):
    df = with_metadata(_msgs(strict), n="first", k="1")
    df = with_metadata(df, n=F.lit("second"), k=F.lit(2))
    rows = df.collect()
    assert [(r["metadata"]["n"], r["metadata"]["k"]) for r in rows] == [("second", "2")] * 2
    assert all(len(r["metadata"]) == 2 for r in rows)


def test_second_requeue_increments_retries(ps, strict):
    src, mid, dst = _t("src"), _t("mid"), _t("dst")
    ps.publish(src, _msgs(strict))
    Requeuer(ps, ps, src, destination_topic=mid, delay_sec=5).run_once()
    Requeuer(ps, ps, mid, destination_topic=dst, delay_sec=7).run_once()
    out = ps.subscribe(dst)
    assert _meta(out, REQUEUER_RETRIES) == ["2", "2"]
    assert _meta(out, DELAYED_FOR) == ["7s", "7s"]


def test_requeue_back_to_poisoned_topic_twice(ps, strict):
    dlq1, dlq2, origin = _t("dlq"), _t("dlq"), _t("origin")
    ps.publish(dlq1, _msgs(strict, **{POISONED_TOPIC: origin, REQUEUER_RETRIES: "1"}))
    Requeuer(ps, ps, dlq1).run_once()
    ps.publish(dlq2, ps.subscribe(origin))
    Requeuer(ps, ps, dlq2).run_once()
    assert _meta(ps.subscribe(origin), REQUEUER_RETRIES) == ["2", "2", "3", "3"]


def test_redelay_through_delay_for(strict):
    df = delay_for(delay_for(_msgs(strict), 30), 60)
    assert _meta(df, DELAYED_FOR) == ["60s", "60s"]


@pytest.mark.parametrize(
    "poison",
    [
        lambda ps, dlq: mw.poison_queue(ps, dlq),
        lambda ps, dlq: mw.poison_queue_with_filter(ps, dlq, lambda err: err.isNotNull()),
    ],
    ids=["poison_queue", "poison_queue_with_filter"],
)
def test_repoison_overwrites_stamps(ps, strict, poison):
    def dead_letter(name, tin, reason):
        dlq = _t("dlq")
        r = Router()
        r.add_handler(
            name, tin, ps, _t("out"), ps, passthrough_handler,
            middleware=[poison(ps, dlq), mw.fail_rows(F.lit(True), reason)],
        )
        r.run_once()
        return ps.subscribe(dlq)

    first_in, second_in = _t("in1"), _t("in2")
    ps.publish(first_in, _msgs(strict))
    ps.publish(second_in, dead_letter("h1", first_in, "first failure"))
    out = dead_letter("h2", second_in, "second failure")
    assert _meta(out, REASON_POISONED) == ["second failure"] * 2
    assert _meta(out, POISONED_TOPIC) == [second_in] * 2
    assert _meta(out, POISONED_HANDLER) == ["h2"] * 2


def test_repeated_delay_on_error_keeps_last_delay(strict):
    def fail(df):
        return df.withColumn(ERROR_COL, F.lit("boom"))

    once = mw.delay_on_error(base_sec=10)(fail)(_msgs(strict))
    twice = mw.delay_on_error(base_sec=20)(fail)(once.drop(ERROR_COL))
    assert _meta(once, DELAYED_FOR) == ["10s", "10s"]
    assert _meta(twice, DELAYED_FOR) == ["20s", "20s"]


def test_replying_on_command_with_reply_keys(ps, strict):
    replies = _t("replies")
    cmds = _msgs(strict, **{REPLY_HAS_ERROR: "1", REPLY_ERROR: "old"})
    ok = replying(lambda df: df, ps, replies)(cmds)
    assert _meta(ps.subscribe(replies), REPLY_HAS_ERROR) == ["0", "0"]

    again = _t("replies")
    replying(lambda df: df.withColumn(ERROR_COL, F.lit("new")), ps, again)(ok)
    out = ps.subscribe(again)
    assert _meta(out, REPLY_HAS_ERROR) == ["1", "1"]
    assert _meta(out, REPLY_ERROR) == ["new", "new"]


def test_kafka_header_decode_last_header_wins(strict):
    raw = strict.createDataFrame(
        [(b"k", b"v", [("trace", b"1"), ("uuid", b"u1"), ("trace", b"2")], "t", None)],
        "key binary, value binary, headers array<struct<key:string,value:binary>>,"
        " topic string, timestamp timestamp",
    )
    kafka = KafkaPubSub(strict, "localhost:9092")
    once = kafka._from_kafka_shape(raw)
    row = once.collect()[0]
    assert row["uuid"] == "u1"
    assert dict(row["metadata"]) == {"trace": "2", "uuid": "u1"}
    twice = kafka._from_kafka_shape(
        kafka._to_kafka_shape(once).withColumn("timestamp", F.current_timestamp())
    )
    assert dict(twice.collect()[0]["metadata"]) == {"trace": "2", "uuid": "u1"}
