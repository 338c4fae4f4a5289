"""Forwarder + envelope: the outbox pattern.

Reference: `components/forwarder/envelope.go:43-75` (wrap message +
destination topic into a JSON envelope) and
`components/forwarder/forwarder.go:67-140` (subscribe to the forwarder
topic, unwrap, publish to the embedded destination).

Spark shape: wrap = `to_json(struct(...))` into payload; unwrap =
`from_json` back to message columns with `topic` set from the envelope. With
a Kafka sink the forward step is a single per-row-routed write
(`KafkaPubSub.publish_routed`); for dir/memory transports we publish per
distinct destination (driver loop over the tiny set of destination topics —
the topic *list* is small even when data is huge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
)

from watermill_spark.message import MESSAGE_COLUMNS
from watermill_spark.sources.base import PubSub

_ENVELOPE_SCHEMA = StructType(
    [
        StructField("destination_topic", StringType()),
        StructField("uuid", StringType()),
        StructField("payload_b64", StringType()),
        StructField("metadata", MapType(StringType(), StringType())),
    ]
)


def envelope_wrap(df: DataFrame, destination_topic: str | F.Column) -> DataFrame:
    """Message → envelope message (payload becomes the JSON envelope).

    Binary payloads are base64-encoded inside the JSON, mirroring
    encoding/json's []byte handling in the reference envelope.
    """
    dest = (
        F.lit(destination_topic)
        if isinstance(destination_topic, str)
        else destination_topic
    )
    env = F.to_json(
        F.struct(
            dest.alias("destination_topic"),
            F.col("uuid"),
            F.base64(F.col("payload")).alias("payload_b64"),
            F.col("metadata"),
        )
    )
    return df.select(
        F.col("uuid"),
        F.col("metadata"),
        env.cast("binary").alias("payload"),
        F.col("topic"),
        F.col("event_time"),
    )


def envelope_unwrap(df: DataFrame) -> DataFrame:
    """Envelope message → original message with topic = destination."""
    env = F.from_json(F.col("payload").cast("string"), _ENVELOPE_SCHEMA)
    return df.select(
        env["uuid"].alias("uuid"),
        env["metadata"].alias("metadata"),
        F.unbase64(env["payload_b64"]).alias("payload"),
        env["destination_topic"].alias("topic"),
        F.col("event_time"),
    )


class Forwarder:
    def __init__(self, subscriber: PubSub, publisher: PubSub, forwarder_topic: str):
        self.subscriber = subscriber
        self.publisher = publisher
        self.forwarder_topic = forwarder_topic

    def run_once(self) -> None:
        """One bounded pass: unwrap everything on the forwarder topic and
        publish each message to its embedded destination topic."""
        publish_by_topic(
            self.publisher,
            envelope_unwrap(self.subscriber.subscribe(self.forwarder_topic)),
        )


def publish_by_topic(publisher: PubSub, df: DataFrame) -> None:
    """Publish each message to the topic in its `topic` column. Rows with a
    NULL topic are dropped (a malformed envelope or an unstamped requeue:
    `forwarder.go:125-131` nacks; we skip). Transports with
    `publish_routed` (Kafka) route per row in one write; others get one
    filtered publish per distinct topic over a snapshot of `df` (the topic
    list is small even when the data is not)."""
    routed = df.filter(F.col("topic").isNotNull()).select(*MESSAGE_COLUMNS)
    if hasattr(publisher, "publish_routed"):
        publisher.publish_routed(routed)  # type: ignore[attr-defined]
        return
    routed = routed.localCheckpoint(eager=True)
    for r in routed.select("topic").distinct().collect():
        publisher.publish(r["topic"], routed.filter(F.col("topic") == r["topic"]))
