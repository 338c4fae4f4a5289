"""Publisher/Subscriber decorators (`message/decorator.go:1-96`).

The reference decorates transports with per-message transforms:
``MessageTransformPublisherDecorator`` rewrites every message on its way
into ``Publish``; ``MessageTransformSubscriberDecorator`` rewrites every
message coming out of ``Subscribe``. Routers apply lists of such decorators
to every handler's endpoints (`message/router.go:226-240, 724-760`).

Here a transform is a DataFrame → DataFrame function (the library's
message-set shape), so a decorator stays a zero-copy plan rewrite — Catalyst
fuses it into the handler pipeline; nothing materializes per message.

``ForwardingPubSubDecorator`` forwards every attribute it does not override
to the wrapped transport, so capability probes keep working through the
wrapper — in particular ``commit(topic)`` on cursor-aware subscribers
(Router.run_polling requires it) and transport extras like
``subscribe_group``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from .base import PubSub

Transform = Callable[[DataFrame], DataFrame]
Decorator = Callable[[PubSub], PubSub]


class ForwardingPubSubDecorator(PubSub):
    """Base decorator: everything forwards to ``inner`` unless overridden."""

    def __init__(self, inner: PubSub):
        super().__init__(inner.spark)
        self.inner = inner

    def publish(self, topic: str, df: DataFrame) -> None:
        self.inner.publish(topic, df)

    def subscribe(self, topic: str) -> DataFrame:
        return self.inner.subscribe(topic)

    def subscribe_stream(self, topic: str, **options) -> DataFrame:
        return self.inner.subscribe_stream(topic, **options)

    def subscribe_initialize(self, topic: str) -> None:
        self.inner.subscribe_initialize(topic)

    def close(self) -> None:
        self.inner.close()
        super().close()

    def __getattr__(self, name: str):
        # capability forwarding (commit, ack, subscribe_group, ...): only
        # consulted for attributes not found on the decorator itself
        if name == "inner":  # not yet assigned during __init__
            raise AttributeError(name)
        return getattr(self.inner, name)


class _TransformPublisher(ForwardingPubSubDecorator):
    def __init__(self, inner: PubSub, transform: Transform):
        super().__init__(inner)
        self._transform = transform

    def publish(self, topic: str, df: DataFrame) -> None:
        self.inner.publish(topic, self._transform(df))


class _TransformSubscriber(ForwardingPubSubDecorator):
    def __init__(self, inner: PubSub, transform: Transform):
        super().__init__(inner)
        self._transform = transform

    def subscribe(self, topic: str) -> DataFrame:
        return self._transform(self.inner.subscribe(topic))

    def subscribe_stream(self, topic: str, **options) -> DataFrame:
        return self._transform(self.inner.subscribe_stream(topic, **options))


class RetryPublisher(ForwardingPubSubDecorator):
    """Publisher decorator retrying failed publishes with doubling backoff
    (`internal/publisher/retry.go:55-108`).

    Sink-side safety net for transient transport errors; with checkpointed
    streaming the replayed batch makes retries idempotent-by-uuid when the
    underlying sink dedups (exactly-once recipe, SURVEY.md §7d). Built on
    the forwarding base so a wrapped cursor-aware transport keeps commit()
    and friends visible.

    close() CASCADES to the wrapped transport (the forwarding base's
    contract, matching Go decorator Close chains) — don't close a
    RetryPublisher whose inner transport is still shared elsewhere.
    """

    def __init__(self, inner: PubSub, max_retries: int = 5,
                 initial_interval_sec: float = 0.1):
        super().__init__(inner)
        self.max_retries = max_retries
        self.initial_interval_sec = initial_interval_sec

    def publish(self, topic: str, df: DataFrame) -> None:
        import time as _time

        interval = self.initial_interval_sec
        for attempt in range(self.max_retries + 1):
            try:
                return self.inner.publish(topic, df)
            except Exception:
                if attempt == self.max_retries:
                    raise
                _time.sleep(interval)
                interval *= 2


def message_transform_publisher_decorator(transform: Transform) -> Decorator:
    """Every published batch passes through ``transform`` first
    (`message/decorator.go:62-77`)."""
    return lambda pub: _TransformPublisher(pub, transform)


def message_transform_subscriber_decorator(transform: Transform) -> Decorator:
    """Every subscribed batch passes through ``transform``
    (`message/decorator.go:79-96`)."""
    return lambda sub: _TransformSubscriber(sub, transform)
