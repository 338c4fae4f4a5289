"""Router: binds subscriber → handler pipeline → publisher per handler.

Reference semantics being kept (`message/router.go`):
- `AddHandler(name, subTopic, sub, pubTopic, pub, fn)` keyed by unique name,
  duplicate ⇒ error (`:272-330`, panic at `:288-290`).
- Middleware onion: router-level then handler-level, **first-added
  outermost** (`:651-659`).
- Handler context enrichment: handler name / topics visible to the handler
  (`message/router_context.go:9-50`) — here literal columns prefixed `_wm_`.
- Ack on success, nack on error (`:805-841`) — mapped to micro-batch
  semantics: a batch that publishes successfully is committed (ack); an
  errored batch raises ⇒ checkpoint replay (nack ⇒ redelivery), unless error
  rows were consumed by PoisonQueue/IgnoreErrors middleware.
- Graceful close: `close()` stops streaming queries after the in-flight
  batch (`:563-590` CloseTimeout analog = query.stop semantics).

Execution modes:
- `run_once()`   — one bounded pass per handler (batch DataFrames).
- `run_stream()` — one Structured Streaming query per handler via
  foreachBatch (the per-handler goroutine of `:471-490` becomes a streaming
  query; per-message goroutines `:663-668` become task parallelism).

The handler is a DataFrame → DataFrame transform (HandlerFunc 1→0..N analog,
`message/router.go:32`): row multiplication/filtering inside the transform is
the flatMap shape.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from watermill_spark.message import MESSAGE_COLUMNS
from watermill_spark.sources.base import PubSub

HandlerFn = Callable[[DataFrame], DataFrame]
Middleware = Callable[[HandlerFn], HandlerFn]

ERROR_COL = "_wm_error"
CTX_HANDLER = "_wm_handler_name"
CTX_SUB_TOPIC = "_wm_subscribe_topic"
CTX_PUB_TOPIC = "_wm_publish_topic"
_CTX_COLS = (ERROR_COL, CTX_HANDLER, CTX_SUB_TOPIC, CTX_PUB_TOPIC)


def passthrough_handler(df: DataFrame) -> DataFrame:
    """Identity handler (`message/router.go:38-40`)."""
    return df


@dataclass
class _Handler:
    name: str
    sub_topic: str
    subscriber: PubSub
    pub_topic: str | None
    publisher: PubSub | None
    fn: HandlerFn
    middleware: list[Middleware] = field(default_factory=list)
    stopped: bool = False  # Handler.Stop analog (`router.go:709-716`)
    query: object = None  # this handler's StreamingQuery when run_stream'd
    # decorated endpoints, resolved once on first use (stateful decorators —
    # e.g. publish counters — must not be re-constructed per batch); matches
    # the reference decorating once when the handler starts (`:724-760`).
    # ver records how many decorators were applied: if more are registered
    # later, the endpoint re-resolves (reference re-decorates at each Run)
    eff_sub: object = None
    eff_pub: object = None
    eff_sub_ver: int = -1
    eff_pub_ver: int = -1


class HandlerHandle:
    """What ``add_handler`` returns — the reference's ``*Handler``
    (`message/router.go:272` returns it; methods `:691-722`).

    Lets callers attach handler-level middleware after registration and
    stop ONE handler without closing the router.
    """

    def __init__(self, router: "Router", h: _Handler):
        self._router = router
        self._h = h

    @property
    def name(self) -> str:
        return self._h.name

    def add_middleware(self, *mw: Middleware) -> None:
        """Handler-level middleware, executed after (inside) router-level
        ones (`router.go:691-700`, ordering `:651-659`)."""
        self._h.middleware.extend(mw)

    def stop(self) -> None:
        """Stop this handler only: future run_once/run_polling passes skip
        it, and its streaming query (if running) is stopped
        (`router.go:709-716`)."""
        self._h.stopped = True
        q = self._h.query
        if q is not None:
            try:
                q.stop()
            except Exception:
                pass

    @property
    def stopped(self) -> bool:
        return self._h.stopped


@dataclass
class RouterConfig:
    # raise (⇒ nack/replay in streaming) if error rows survive the onion;
    # False drops them (reference: unhandled error always nacks — True is
    # the faithful default)
    fail_on_unhandled_errors: bool = True
    close_timeout_sec: float = 30.0  # router.go:76-80 default


class Router:
    def __init__(self, config: RouterConfig | None = None):
        self.config = config or RouterConfig()
        self._handlers: dict[str, _Handler] = {}
        self._router_middleware: list[Middleware] = []
        self._pub_decorators: list = []  # Callable[[PubSub], PubSub]
        self._sub_decorators: list = []
        self._queries: list = []  # active StreamingQuery handles
        self._running = False
        self.closed = False

    # -- registration ------------------------------------------------------
    def add_middleware(self, *mw: Middleware) -> None:
        """Router-level middleware, applied to every handler (`router.go:59`)."""
        self._router_middleware.extend(mw)

    def add_publisher_decorators(self, *dec) -> None:
        """Wrap every handler's publisher at run time, first-added innermost
        (`router.go:226-231`, applied `:724-738`)."""
        self._pub_decorators.extend(dec)

    def add_subscriber_decorators(self, *dec) -> None:
        """Wrap every handler's subscriber at run time (`router.go:234-240`,
        applied `:740-760`). Decorators should forward capability attributes
        (``commit`` etc.) — see sources/decorator.ForwardingPubSubDecorator."""
        self._sub_decorators.extend(dec)

    def add_handler(
        self,
        name: str,
        sub_topic: str,
        subscriber: PubSub,
        pub_topic: str | None,
        publisher: PubSub | None,
        fn: HandlerFn,
        middleware: list[Middleware] | None = None,
    ) -> HandlerHandle:
        if name in self._handlers:
            raise ValueError(f"handler {name!r} already exists")  # router.go:288-290
        h = _Handler(
            name, sub_topic, subscriber, pub_topic, publisher, fn, list(middleware or [])
        )
        self._handlers[name] = h
        return HandlerHandle(self, h)

    def add_consumer_handler(
        self,
        name: str,
        sub_topic: str,
        subscriber: PubSub,
        fn: HandlerFn,
        middleware: list[Middleware] | None = None,
    ) -> HandlerHandle:
        """Terminal consumer, no publish (`message/router.go:35, :342-353`)."""
        return self.add_handler(name, sub_topic, subscriber, None, None, fn, middleware)

    # -- introspection (`router.go:241-253, 545-561, 611-615`) --------------
    def handlers(self) -> dict[str, HandlerFn]:
        """Registered handler functions by name (`Handlers()`)."""
        return {name: h.fn for name, h in self._handlers.items()}

    @property
    def is_running(self) -> bool:
        return self._running and not self.closed

    @property
    def is_closed(self) -> bool:
        return self.closed

    # -- pipeline assembly -------------------------------------------------
    def _endpoints(self, h: _Handler) -> tuple[PubSub, PubSub | None]:
        """(subscriber, publisher) with router decorators applied — resolved
        once per handler so stateful decorators keep their state across
        batches (`router.go:724-760` decorates once per handler at run)."""
        if h.eff_sub is None:
            h.eff_sub, h.eff_sub_ver = h.subscriber, 0
        if h.eff_sub_ver < len(self._sub_decorators):
            # late-registered decorators wrap AROUND the existing chain —
            # never rebuilt from raw, so stateful inner decorators (e.g.
            # counters) keep their accumulated state
            for dec in self._sub_decorators[h.eff_sub_ver:]:
                h.eff_sub = dec(h.eff_sub)
            h.eff_sub_ver = len(self._sub_decorators)
        if h.publisher is not None:
            if h.eff_pub is None:
                h.eff_pub, h.eff_pub_ver = h.publisher, 0
            if h.eff_pub_ver < len(self._pub_decorators):
                for dec in self._pub_decorators[h.eff_pub_ver:]:
                    h.eff_pub = dec(h.eff_pub)
                h.eff_pub_ver = len(self._pub_decorators)
        return h.eff_sub, h.eff_pub

    def _onion(self, h: _Handler) -> HandlerFn:
        """First-added outermost (`message/router.go:651-659`)."""
        wrapped = h.fn
        for mw in reversed(self._router_middleware + h.middleware):
            wrapped = mw(wrapped)
        return wrapped

    def _enrich(self, df: DataFrame, h: _Handler) -> DataFrame:
        """Context columns (router_context.go analog) + null error column."""
        return (
            df.withColumn(ERROR_COL, F.lit(None).cast("string"))
            .withColumn(CTX_HANDLER, F.lit(h.name))
            .withColumn(CTX_SUB_TOPIC, F.lit(h.sub_topic))
            .withColumn(CTX_PUB_TOPIC, F.lit(h.pub_topic))
        )

    def _process_batch(self, h: _Handler, batch_df: DataFrame) -> None:
        out = self._onion(h)(self._enrich(batch_df, h))
        cached = None
        try:
            if ERROR_COL in out.columns:
                if self.config.fail_on_unhandled_errors:
                    # cache: the error split inspects `out` twice; without
                    # it the handler lineage would recompute (and chaos
                    # middleware would re-roll its dice). Unpersisted in the
                    # finally — publish is eager, so nothing references the
                    # cache after this batch, and a long-running stream must
                    # not accumulate one CacheManager entry per micro-batch.
                    cached = out = out.cache()
                    errs = out.filter(F.col(ERROR_COL).isNotNull())
                    n_err = errs.count()
                    if n_err:
                        examples = [r[ERROR_COL] for r in errs.select(ERROR_COL).head(3)]
                        raise RuntimeError(
                            f"handler {h.name!r}: {n_err} unhandled message errors "
                            f"(nack ⇒ replay). examples: {examples}"
                        )
                # lax mode drops error rows here uncounted, so its publish
                # is the batch's one Spark job
                out = out.filter(F.col(ERROR_COL).isNull())
            if h.publisher is not None and h.pub_topic is not None:
                _, pub = self._endpoints(h)
                pub.publish(h.pub_topic, out.select(*MESSAGE_COLUMNS))
        finally:
            if cached is not None:
                cached.unpersist()

    # -- execution ---------------------------------------------------------
    def run_once(self) -> int:
        """One bounded pass over every handler's current topic contents;
        returns the number of input messages seen across CURSOR-AWARE
        handlers (lazy full-topic transports are processed but not counted —
        counting them would cost a second full topic scan per pass).

        Cursor-aware subscribers (anything exposing ``commit(topic)``, e.g.
        GroupSubscriber over the SQL transport) are committed only AFTER the
        handler pass succeeds — the batch-granular Ack. A raising handler
        leaves the cursor untouched, so the next run_once redelivers
        (at-least-once, the reference's nack⇒resend contract)."""
        self._running = True
        total = 0
        for h in self._handlers.values():
            if h.stopped:
                continue
            sub, _ = self._endpoints(h)
            df = sub.subscribe(h.sub_topic)
            commit = getattr(sub, "commit", None)
            if commit is not None:
                # cursor-aware polls are bounded local batches — counting
                # them is cheap and feeds run_polling's idle detection.
                # Lazy transports (parquet) skip the count: it would be a
                # second full topic scan per pass just for the return value.
                total += df.count()
            self._process_batch(h, df)
            if commit is not None:
                commit(h.sub_topic)
        return total

    def _require_cursor_subscribers(self) -> None:
        """Every active handler's EFFECTIVE subscriber must expose
        commit(); raises with a wrapper-aware hint otherwise."""
        for h in self._handlers.values():
            if h.stopped:
                continue
            eff = self._endpoints(h)[0]
            if getattr(eff, "commit", None) is None:
                raw = type(h.subscriber).__name__
                seen = type(eff).__name__
                hint = (
                    f" (the registered {raw} is wrapped by {seen}, which does"
                    " not forward commit — subclass ForwardingPubSubDecorator)"
                    if eff is not h.subscriber
                    else ""
                )
                raise ValueError(
                    f"run_polling requires cursor-aware subscribers; handler "
                    f"{h.name!r} uses {seen} (no commit()){hint} — wrap it in "
                    "a GroupSubscriber or use run_once/run_stream"
                )

    def run_polling(
        self,
        interval_sec: float = 0.5,
        max_passes: int | None = None,
        idle_passes_to_stop: int | None = None,
    ) -> int:
        """Continuous consumption for poll-based transports — the reference
        SQL subscriber's long-poll loop (its Subscribe repeatedly SELECTs
        past the group offset and sleeps when empty). Structured Streaming's
        ``run_stream`` covers file/Kafka sources natively; this is the same
        lifecycle for transports whose source is a query, not a stream.

        Repeats ``run_once`` (cursor-committed per pass) until ``close()``,
        ``max_passes``, or ``idle_passes_to_stop`` consecutive empty passes.
        Returns total messages consumed. With cursor-aware subscribers each
        message is processed once per group across the whole loop; a handler
        crash leaves the cursor put, so the next pass redelivers.

        Every handler MUST use a cursor-aware subscriber (``commit(topic)``,
        e.g. GroupSubscriber): a full-topic subscriber would re-process and
        re-publish the whole topic every pass, and its nonzero batch would
        defeat idle detection — rejected up front rather than duplicating
        output unboundedly.

        Caveat for delay-driven topics: a PARKED not-yet-due delayed message
        (SQL hold-back) yields empty polls, indistinguishable from a drained
        topic — ``idle_passes_to_stop`` would stop with work still pending.
        Drive such loops by ``max_passes`` / ``close()`` (or an interval
        longer than the max backoff), as examples/15 does.
        """
        self._require_cursor_subscribers()
        passes = idle = consumed = 0
        while not self.closed:
            # re-validated EVERY pass: a decorator registered mid-loop
            # re-resolves endpoints, and one that hides commit() must fail
            # loudly here, not silently fall back to full-topic re-reads
            self._require_cursor_subscribers()
            n = self.run_once()
            consumed += n
            passes += 1
            idle = idle + 1 if n == 0 else 0
            if max_passes is not None and passes >= max_passes:
                break
            if idle_passes_to_stop is not None and idle >= idle_passes_to_stop:
                break
            time.sleep(interval_sec)
        return consumed

    def run_handlers(
        self,
        checkpoint_root: str,
        available_now: bool = True,
        processing_time: str | None = None,
        max_files_per_trigger: int | None = None,
    ) -> list:
        """Start streaming queries for handlers not yet running — the
        reference's ``RunHandlers`` (`message/router.go:426-495`), which
        lets a RUNNING router pick up late registrations. Handlers already
        running (or stopped) are left alone; returns the newly started
        queries."""
        if self.closed:
            # a closed router must never spawn queries nothing will stop
            raise RuntimeError("router is closed")
        started = []
        for h in self._handlers.values():
            if h.stopped or h.query is not None:
                continue
            sub, _ = self._endpoints(h)
            opts = {}
            if max_files_per_trigger is not None:
                opts["max_files_per_trigger"] = max_files_per_trigger
            stream = sub.subscribe_stream(h.sub_topic, **opts)
            writer = stream.writeStream.foreachBatch(
                lambda bdf, _bid, h=h: self._process_batch(h, bdf)
            ).option("checkpointLocation", f"{checkpoint_root}/{h.name}")
            if available_now:
                writer = writer.trigger(availableNow=True)
            elif processing_time:
                writer = writer.trigger(processingTime=processing_time)
            h.query = writer.start()
            self._queries.append(h.query)
            started.append(h.query)
        if started:
            self._running = True
        return started

    def run_stream(
        self,
        checkpoint_root: str,
        available_now: bool = True,
        processing_time: str | None = None,
        max_files_per_trigger: int | None = None,
    ) -> list:
        """Start one streaming query per handler (foreachBatch).

        checkpoint_root/<handler> is the consumer-group identity
        (SURVEY.md §1.4: one group == one (query, checkpointDir) pair).
        `max_files_per_trigger` is the Throttle knob at the source
        (`middleware/throttle.go` ≙ source rate limiting), passed to the
        subscriber's ``subscribe_stream`` only when set.
        """
        still_active = [
            h.name
            for h in self._handlers.values()
            if h.query is not None and getattr(h.query, "isActive", False)
        ]
        if still_active:
            # re-running would orphan live queries and collide on their
            # checkpoint dirs — the reference's ErrRouterIsAlreadyRunning
            raise RuntimeError(
                f"router is already running (active handlers: {still_active}); "
                "use run_handlers() for late registrations or close() first"
            )
        self._running = True
        self._queries = []
        for h in self._handlers.values():
            h.query = None  # fresh run: prior queries all stopped/finished
        self.run_handlers(
            checkpoint_root,
            available_now=available_now,
            processing_time=processing_time,
            max_files_per_trigger=max_files_per_trigger,
        )
        return self._queries

    def await_termination(self) -> None:
        for q in self._queries:
            q.awaitTermination()

    def close(self) -> None:
        """Graceful stop: let in-flight batches finish (`router.go:563-590`)."""
        deadline = time.time() + self.config.close_timeout_sec
        for q in self._queries:
            try:
                q.stop()
            except Exception:
                pass
        for q in self._queries:
            while q.isActive and time.time() < deadline:
                time.sleep(0.05)
        self._queries = []
        self._running = False
        self.closed = True
