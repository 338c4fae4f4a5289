"""In-memory Pub/Sub — the GoChannel analog for tests.

Reference: `pubsub/gochannel/pubsub.go:43-138` (per-topic subscriber lists,
optional persistence, per-subscriber message copies). Here a topic is a
driver-side list of Rows; `subscribe` materializes a DataFrame copy, so each
subscriber is isolated exactly like the reference's Copy-on-send
(`pubsub/gochannel/pubsub.go:387`) — DataFrames are immutable, isolation is
free.

Persistence semantics: always persistent (a new subscriber sees the backlog,
== `NewSubscriberReceivesOldMessages`, `pubsub/tests/test_pubsub.go:120-122`)
unless constructed with persistent=False, in which case subscribe drains.
This is a *test* transport: driver-side state is acceptable because topics in
tests are small; production topics use ParquetPubSub/KafkaPubSub.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

from watermill_spark.message import MESSAGE_SCHEMA, ensure_message_df

from .base import PubSub


class MemoryPubSub(PubSub):
    def __init__(self, spark, persistent: bool = True):
        super().__init__(spark)
        self.persistent = persistent
        self._topics: dict[str, list] = {}
        self._lock = threading.Lock()  # Publish must be thread-safe (pubsub.go:16-18)

    def publish(self, topic: str, df: DataFrame) -> None:
        self._check_open()
        rows = ensure_message_df(df).collect()
        with self._lock:
            self._topics.setdefault(topic, []).extend(rows)

    def subscribe(self, topic: str) -> DataFrame:
        with self._lock:
            rows = list(self._topics.get(topic, []))
            if not self.persistent:
                self._topics[topic] = []
        return self.spark.createDataFrame(rows, MESSAGE_SCHEMA)

    def subscribe_initialize(self, topic: str) -> None:
        with self._lock:
            self._topics.setdefault(topic, [])

    def topic_count(self, topic: str) -> int:
        with self._lock:
            return len(self._topics.get(topic, []))
