"""Request/Reply: command bus with correlated replies over a reply topic.

Reference: `components/requestreply/requestreply.go:36-56` and the Pub/Sub
backend `components/requestreply/backend_pubsub.go:126-291` — a command is
stamped with an operation id (`OperationIDMetadataKey`,
`backend_pubsub.go:215`), the handler's result (or error) is published as a
notification to a reply topic carrying the same id
(`backend_pubsub.go:220-260`), and the requester awaits notifications
filtered on its id (`handleNotifyMsg`, `backend_pubsub.go:275-291`). Error
propagation uses `_watermill_requestreply_error` / `_has_error`
(`backend_pubsub_marshaler.go:17-18`).

Spark shape: the command flows through a Router handler; `replying(...)`
wraps the handler so its output is published to the reply topic with the
operation id and error metadata carried; `await_reply` polls the reply
topic's bounded view filtered on the id (driver-side await — RPC is
inherently a driver concern; a stream-stream join on operation_id with a
watermark is the streaming alternative noted in SURVEY §4.4).
"""

from __future__ import annotations

import time
import uuid as _uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from watermill_spark.message import metadata_set, with_metadata
from watermill_spark.sources.base import PubSub
from watermill_spark.streaming.router import ERROR_COL, HandlerFn

# Same metadata keys as the reference so consumers interoperate.
OPERATION_ID = "_watermill_requestreply_op_id"
REPLY_ERROR = "_watermill_requestreply_error"
REPLY_HAS_ERROR = "_watermill_requestreply_has_error"


def new_operation_id() -> str:
    return str(_uuid.uuid4())


def send_with_reply(
    publisher: PubSub, topic: str, df: DataFrame, operation_id: str | None = None
) -> str:
    """Publish command messages stamped with an operation id
    (`command_bus.go:114-121`); returns the id to await on."""
    op = operation_id or new_operation_id()
    publisher.publish(topic, with_metadata(df, **{OPERATION_ID: op}))
    return op


def replying(handler: HandlerFn, publisher: PubSub, reply_topic: str) -> HandlerFn:
    """Wrap a handler so every processed command produces a notification on
    the reply topic with the command's operation id and error state
    (`backend_pubsub.go:220-260` OnCommandProcessed)."""

    def wrapped(df: DataFrame) -> DataFrame:
        # snapshot: re-read for the notification and the return path
        out = handler(df).localCheckpoint(eager=True)
        has_err = (
            F.col(ERROR_COL).isNotNull()
            if ERROR_COL in out.columns
            else F.lit(False)
        )
        err_str = F.col(ERROR_COL) if ERROR_COL in out.columns else F.lit(None)
        notification = out.withColumn(
            "metadata",
            F.when(
                has_err,
                metadata_set(**{REPLY_HAS_ERROR: "1", REPLY_ERROR: err_str}),
            ).otherwise(metadata_set(**{REPLY_HAS_ERROR: "0"})),
        )
        publisher.publish(reply_topic, notification)
        return out

    return wrapped


def await_reply(
    subscriber: PubSub,
    reply_topic: str,
    operation_id: str,
    timeout_sec: float = 30.0,
    poll_sec: float = 0.2,
) -> DataFrame:
    """Block until notifications for `operation_id` appear on the reply topic
    (`ListenForNotifications`, `backend_pubsub.go:126-160`); raises
    TimeoutError like the reference's context-deadline path."""
    deadline = time.monotonic() + timeout_sec
    while True:
        replies = subscriber.subscribe(reply_topic).filter(
            F.element_at("metadata", OPERATION_ID) == operation_id
        )
        if replies.limit(1).count():
            return replies
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"no reply for operation {operation_id} on {reply_topic} "
                f"within {timeout_sec}s"
            )
        time.sleep(poll_sec)
