"""Kafka transport: the production path.

Emits real Structured Streaming Kafka plans; the message schema maps 1:1 to
Spark's Kafka source columns (SURVEY.md §1.4):

    uuid       <- headers['uuid'] (or key)      payload  <- value
    metadata   <- headers                       topic    <- topic
    event_time <- timestamp

Consumer groups are modeled as distinct checkpoint locations (Spark tracks
its own offsets — one group == one (query, checkpointDir) pair). This module
is config + plan construction only; no broker exists in the test container,
so tests assert plan shape, not end-to-end delivery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from watermill_spark.message import metadata_from_headers

from .base import PubSub


class KafkaPubSub(PubSub):
    def __init__(self, spark, bootstrap_servers: str, starting_offsets: str = "earliest"):
        super().__init__(spark)
        self.bootstrap_servers = bootstrap_servers
        self.starting_offsets = starting_offsets

    def _to_kafka_shape(self, df: DataFrame) -> DataFrame:
        # metadata map -> array<struct<key,value binary>> headers
        headers = F.transform(
            F.map_entries(F.coalesce(F.col("metadata"), F.create_map())),
            lambda e: F.struct(
                e["key"].alias("key"), e["value"].cast("binary").alias("value")
            ),
        )
        return df.select(
            F.col("uuid").cast("binary").alias("key"),
            F.col("payload").alias("value"),
            headers.alias("headers"),
            F.col("topic"),
        )

    def publish(self, topic: str, df: DataFrame) -> None:
        (
            self._to_kafka_shape(df.withColumn("topic", F.lit(topic)))
            .write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("topic", topic)
            .save()
        )

    def publish_routed(self, df: DataFrame) -> None:
        """Per-row topic routing (Forwarder sink): Kafka writer routes each
        row by its `topic` column — no per-topic fan-out queries needed."""
        (
            self._to_kafka_shape(df)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .save()
        )

    def _from_kafka_shape(self, df: DataFrame) -> DataFrame:
        meta = metadata_from_headers(F.col("headers"))
        return df.select(
            F.coalesce(
                F.element_at(meta, "uuid"), F.col("key").cast("string")
            ).alias("uuid"),
            meta.alias("metadata"),
            F.col("value").alias("payload"),
            F.col("topic"),
            F.col("timestamp").alias("event_time"),
        )

    def subscribe(self, topic: str) -> DataFrame:
        return self._from_kafka_shape(
            self.spark.read.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("subscribe", topic)
            .option("includeHeaders", "true")
            .load()
        )

    def subscribe_stream(self, topic: str) -> DataFrame:
        """`subscribe` may be a comma-list — FanIn is native here
        (`components/fanin/fanin.go` ≙ multi-topic subscribe)."""
        return self._from_kafka_shape(
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("subscribe", topic)
            .option("includeHeaders", "true")
            .option("startingOffsets", self.starting_offsets)
            .load()
        )
