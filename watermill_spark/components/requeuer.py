"""Requeuer: move messages topic→topic with retry bookkeeping.

Reference: `components/requeuer/requeuer.go:89-158` — subscribe to a
(poison) topic, increment `_watermill_requeuer_retries`, optionally stamp a
delay, publish to the origin topic (taken from the poisoned-topic metadata or
a fixed GeneratePublishTopic).

Spark shape: a bounded pass (or a processing-time-triggered streaming query)
reading the requeue topic, metadata arithmetic in columns, publish to origin.
The delay is metadata-only (`_watermill_delayed_until`) — never a sleep —
so requeue throughput is unaffected by the backoff duration.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from watermill_spark.message import (
    MESSAGE_COLUMNS,
    POISONED_TOPIC,
    REQUEUER_RETRIES,
    metadata_get,
    with_metadata,
)
from watermill_spark.sources.base import PubSub

from .delay import delay_for
from .forwarder import publish_by_topic


class Requeuer:
    def __init__(
        self,
        subscriber: PubSub,
        publisher: PubSub,
        requeue_topic: str,
        destination_topic: str | None = None,
        delay_sec: int = 0,
    ):
        """destination_topic=None routes each message back to the topic it
        was poisoned on (metadata `_watermill_poisoned_on_topic`)."""
        self.subscriber = subscriber
        self.publisher = publisher
        self.requeue_topic = requeue_topic
        self.destination_topic = destination_topic
        self.delay_sec = delay_sec

    def run_once(self) -> None:
        df = self.subscriber.subscribe(self.requeue_topic)
        retries = F.coalesce(metadata_get(REQUEUER_RETRIES).cast("int"), F.lit(0)) + 1
        df = with_metadata(df, **{REQUEUER_RETRIES: retries})
        if self.delay_sec:
            df = delay_for(df, self.delay_sec)
        if self.destination_topic is not None:
            self.publisher.publish(self.destination_topic, df.select(*MESSAGE_COLUMNS))
            return
        publish_by_topic(self.publisher, df.withColumn("topic", metadata_get(POISONED_TOPIC)))
