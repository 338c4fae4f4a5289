"""Delayed messages (`components/delay/*`).

Reference: `components/delay/delay.go:26-68` stamps metadata keys
`_watermill_delayed_until` (RFC3339) / `_watermill_delayed_for` (duration);
`components/delay/publisher.go:28-83` decorates a publisher to apply them;
only SQL Pub/Subs honor the keys on read
(`docs/content/advanced/delayed-messages.md:37-40`). We honor them uniformly:
every transport read can apply `deliverable_now` as a hold-back filter.

Streaming caveat (SURVEY.md §7 hard-parts): a filtered-out row never
re-triggers on its own; the streaming consumer re-scans on a
processing-time trigger (the `Requeuer`'s loop) — batch `run_once` passes
re-evaluate naturally.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from watermill_spark.message import with_metadata
from watermill_spark.sources.base import PubSub
from watermill_spark.streaming.middleware import DELAYED_FOR, DELAYED_UNTIL

_RFC3339 = "yyyy-MM-dd'T'HH:mm:ssXXX"


def delay_for(df: DataFrame, seconds: int) -> DataFrame:
    """delay.For analog: delay relative to publish time."""
    until = F.date_format(
        F.to_timestamp(F.from_unixtime(F.unix_timestamp(F.current_timestamp()) + seconds)),
        _RFC3339,
    )
    return with_metadata(df, **{DELAYED_FOR: f"{seconds}s", DELAYED_UNTIL: until})


def delay_until(df: DataFrame, when: _dt.datetime) -> DataFrame:
    """delay.Until analog: absolute delivery time."""
    return with_metadata(
        df, **{DELAYED_UNTIL: when.strftime("%Y-%m-%dT%H:%M:%S+00:00")}
    )


def deliverable_now(df: DataFrame, now: _dt.datetime | None = None) -> DataFrame:
    """Consumer-side hold-back: only messages whose delay has expired.

    Unstamped messages are always deliverable.
    """
    now_col = F.lit(now.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp") if now else F.current_timestamp()
    until = F.to_timestamp(
        F.element_at(F.coalesce(F.col("metadata"), F.create_map()), DELAYED_UNTIL),
        _RFC3339,
    )
    return df.filter(until.isNull() | (until <= now_col))


class DelayPublisher(PubSub):
    """Publisher decorator applying a default delay
    (`components/delay/publisher.go:28-83`). If no delay is configured and
    allow_no_delay is False, publishing errors — same validation as the
    reference."""

    def __init__(self, inner: PubSub, default_delay_sec: int | None = None, allow_no_delay: bool = False):
        super().__init__(inner.spark)
        self.inner = inner
        self.default_delay_sec = default_delay_sec
        self.allow_no_delay = allow_no_delay

    def publish(self, topic: str, df: DataFrame) -> None:
        if self.default_delay_sec is not None:
            df = delay_for(df, self.default_delay_sec)
        elif not self.allow_no_delay:
            raise ValueError("no delay configured and AllowNoDelay is false")
        self.inner.publish(topic, df)

    def subscribe(self, topic: str) -> DataFrame:
        return self.inner.subscribe(topic)

    def subscribe_stream(self, topic: str, **options) -> DataFrame:
        return self.inner.subscribe_stream(topic, **options)
