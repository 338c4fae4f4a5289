"""CQRS layer: typed command/event buses + processors over the router.

Reference parity:
- JSONMarshaler (`components/cqrs/marshaler_json.go:15-53`): payload =
  JSON(struct); metadata["name"] = fully-qualified type name.
- EventBus.Publish (`components/cqrs/event_bus.go:117-146`): marshal →
  topic from event name → publish.
- CommandBus.Send (`components/cqrs/command_bus.go:116-168`): same, one
  handler per command type.
- Command/EventProcessor (`components/cqrs/command_processor.go:315-373`,
  `event_processor.go:314-371`): per type — subscribe, *skip messages whose
  metadata name mismatches* (ack-and-ignore), unmarshal, handle, ack/nack.
- EventGroupProcessor (`components/cqrs/event_processor_group.go:143-272`):
  one subscription, dispatch across grouped handlers by name, in stream
  order.

Spark shapes: marshal = to_json(struct(...)); the name filter is a plain
`filter` (ack-and-ignore == not selecting the row); unmarshal = from_json
with the handler's schema; protobuf maps to from_protobuf/to_protobuf when a
descriptor set is supplied (Spark 3.4+); group dispatch = per-handler
filtered branches over one subscription.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from watermill_spark.message import MESSAGE_COLUMNS, ensure_message_df
from watermill_spark.sources.base import PubSub

NAME_KEY = "name"  # metadata key stamped by the JSON marshaler


# -- marshaler -------------------------------------------------------------
class JSONMarshaler:
    """to_json/from_json payload codec; name = caller-supplied type name."""

    def marshal(self, df: DataFrame, name: str, struct_cols: list[str]) -> DataFrame:
        """Typed rows → message rows: payload=JSON of selected columns,
        metadata.name=type name, uuid generated."""
        payload = F.to_json(F.struct(*[F.col(c) for c in struct_cols]))
        out = df.select(
            F.expr("uuid()").alias("uuid"),
            F.create_map(F.lit(NAME_KEY), F.lit(name)).alias("metadata"),
            payload.cast("binary").alias("payload"),
        )
        return ensure_message_df(out)

    def unmarshal(self, df: DataFrame, schema: StructType) -> DataFrame:
        """Message rows → typed rows (message columns retained under `_msg`)."""
        parsed = F.from_json(F.col("payload").cast("string"), schema)
        return df.select(
            F.struct(*[F.col(c) for c in MESSAGE_COLUMNS]).alias("_msg"),
            parsed.alias("_data"),
        ).select("_msg", "_data.*")

    def name_of(self) -> F.Column:
        return F.element_at(F.coalesce(F.col("metadata"), F.create_map()), NAME_KEY)


# -- buses -----------------------------------------------------------------
def default_topic_fn(name: str) -> str:
    """GenerateEventsTopic/GenerateCommandsTopic analog: topic per type name."""
    return name


class EventBus:
    """`components/cqrs/event_bus.go` — Publish(event rows)."""

    def __init__(self, publisher: PubSub, topic_fn: Callable[[str], str] = default_topic_fn,
                 marshaler: JSONMarshaler | None = None,
                 on_publish: Callable[[DataFrame], DataFrame] | None = None):
        self.publisher = publisher
        self.topic_fn = topic_fn
        self.marshaler = marshaler or JSONMarshaler()
        self.on_publish = on_publish  # OnPublish hook (event_bus.go:129-137)

    def publish(self, df: DataFrame, event_name: str, struct_cols: list[str]) -> None:
        msgs = self.marshaler.marshal(df, event_name, struct_cols)
        if self.on_publish is not None:
            msgs = self.on_publish(msgs)
        self.publisher.publish(self.topic_fn(event_name), msgs)


class CommandBus(EventBus):
    """`components/cqrs/command_bus.go` — structurally identical send path;
    the distinction (exactly one handler per command) is enforced by the
    processor registration below."""

    send = EventBus.publish


# -- processors ------------------------------------------------------------
@dataclass
class _TypedHandler:
    name: str  # type name to match
    schema: StructType
    fn: Callable[[DataFrame], DataFrame | None]


class EventProcessor:
    """Per-type subscription processors (`event_processor.go:314-371`).

    Multiple handlers may subscribe to the same event type (unlike commands).
    `process_once` does, per handler: subscribe → name filter
    (ack-and-ignore mismatches) → unmarshal → handle.
    """

    allow_multiple_per_name = True

    def __init__(self, subscriber: PubSub, topic_fn: Callable[[str], str] = default_topic_fn,
                 marshaler: JSONMarshaler | None = None):
        self.subscriber = subscriber
        self.topic_fn = topic_fn
        self.marshaler = marshaler or JSONMarshaler()
        self._handlers: list[_TypedHandler] = []

    def add_handler(self, type_name: str, schema: StructType, fn) -> None:
        if not self.allow_multiple_per_name and any(
            h.name == type_name for h in self._handlers
        ):
            # command_processor.go duplicate registration error
            raise ValueError(f"handler for {type_name!r} already registered")
        self._handlers.append(_TypedHandler(type_name, schema, fn))

    def process_once(self) -> None:
        for h in self._handlers:
            msgs = self.subscriber.subscribe(self.topic_fn(h.name))
            matched = msgs.filter(self.marshaler.name_of() == h.name)
            typed = self.marshaler.unmarshal(matched, h.schema)
            h.fn(typed)


class CommandProcessor(EventProcessor):
    """One handler per command type (`command_processor.go:269-308`)."""

    allow_multiple_per_name = False


class EventGroupProcessor:
    """One subscription, dispatch by event name across grouped handlers, in
    stream order (`event_processor_group.go:143-272`). Unknown names are
    acked-and-ignored when ack_on_unknown_event (default, matching
    AckOnUnknownEvent semantics for groups)."""

    def __init__(self, subscriber: PubSub, group_topic: str,
                 marshaler: JSONMarshaler | None = None,
                 ack_on_unknown_event: bool = True):
        self.subscriber = subscriber
        self.group_topic = group_topic
        self.marshaler = marshaler or JSONMarshaler()
        self.ack_on_unknown_event = ack_on_unknown_event
        self._handlers: list[_TypedHandler] = []

    def add_handlers_group(self, *handlers: tuple[str, StructType, Callable]) -> None:
        for name, schema, fn in handlers:
            self._handlers.append(_TypedHandler(name, schema, fn))

    def process_once(self) -> None:
        msgs = self.subscriber.subscribe(self.group_topic).localCheckpoint(eager=True)
        known = [h.name for h in self._handlers]
        if not self.ack_on_unknown_event:
            unknown = msgs.filter(~self.marshaler.name_of().isin(known))
            if unknown.limit(1).count():
                bad = unknown.select(self.marshaler.name_of().alias("n")).head()
                raise RuntimeError(f"no handler for event {bad['n']!r} (nack)")
        for h in self._handlers:
            matched = msgs.filter(self.marshaler.name_of() == h.name)
            h.fn(self.marshaler.unmarshal(matched, h.schema))


_PROTO_TYPE_OF_SPARK = {
    "string": "string",
    "bigint": "int64",
    "int": "int32",
    "double": "double",
    "float": "float",
    "boolean": "bool",
    "binary": "bytes",
}


def _proto_fields_of(schema: StructType):
    """Derive the protobuf field layout from a StructType: field number =
    1-based struct position, type mapped recursively — scalars
    scalar-for-scalar, `struct` -> nested message, `array<T>` -> repeated,
    `map<K,V>` -> protobuf map. Deterministic, so marshal and unmarshal
    agree without a separate registry (reference marshals any proto.Message,
    `components/cqrs/marshaler_protobuf.go:15-85`)."""
    from pyspark.sql.types import ArrayType, MapType

    from .protowire import Field

    def scalar_of(dt, fname: str) -> str:
        t = _PROTO_TYPE_OF_SPARK.get(dt.simpleString())
        if t is None:
            raise ValueError(
                f"ProtobufMarshaler: unsupported Spark type "
                f"{dt.simpleString()!r} for field {fname!r} "
                f"(scalars: {sorted(_PROTO_TYPE_OF_SPARK)}, plus "
                "struct / array / map thereof)"
            )
        return t

    def field_of(i: int, name: str, dt) -> Field:
        if isinstance(dt, StructType):
            return Field(
                i, name, "message", message=tuple(walk(dt))
            )
        if isinstance(dt, ArrayType):
            el = dt.elementType
            if isinstance(el, StructType):
                return Field(
                    i, name, "message", repeated=True, message=tuple(walk(el))
                )
            if isinstance(el, (ArrayType, MapType)):
                raise ValueError(
                    f"ProtobufMarshaler: array of {el.simpleString()!r} has "
                    f"no protobuf shape for field {name!r} (wrap the element "
                    "in a struct)"
                )
            return Field(i, name, scalar_of(el, name), repeated=True)
        if isinstance(dt, MapType):
            kt = scalar_of(dt.keyType, name)
            if kt not in ("string", "int32", "int64", "bool"):
                raise ValueError(
                    f"ProtobufMarshaler: map key type {kt!r} invalid for "
                    f"field {name!r} (protobuf map keys: integral/string/bool)"
                )
            vt = dt.valueType
            if isinstance(vt, StructType):
                return Field(
                    i, name, "map", key_type=kt, value_type="message",
                    message=tuple(walk(vt)),
                )
            if isinstance(vt, (ArrayType, MapType)):
                raise ValueError(
                    f"ProtobufMarshaler: map value {vt.simpleString()!r} has "
                    f"no protobuf shape for field {name!r} (wrap it in a "
                    "struct)"
                )
            return Field(i, name, "map", key_type=kt, value_type=scalar_of(vt, name))
        return Field(i, name, scalar_of(dt, name))

    def walk(st: StructType) -> list:
        return [
            field_of(i + 1, f.name, f.dataType)
            for i, f in enumerate(st.fields)
        ]

    return walk(schema)


class ProtobufMarshaler(JSONMarshaler):
    """Protobuf payload codec (`components/cqrs/marshaler_protobuf.go:15-85`).

    Payloads are real protobuf wire bytes (see `protowire.py` — proto3
    scalar subset, wire-compatible with any standard runtime), produced and
    consumed by Arrow-batched pandas UDFs. Two execution paths:

    - **Python codec (always available)**: `protowire.encode/decode_message`
      inside a vectorized UDF — works in this container with no protobuf
      deps.
    - **JVM-native (`native=True`)**: Spark's `to_protobuf`/`from_protobuf`
      against a descriptor set generated by `descriptor_set()` — the
      whole-stage-codegen path on clusters shipping the spark-protobuf
      artifact (not bundled with vanilla pyspark, so gated).

    metadata["name"] carries the message name exactly as the JSON marshaler
    does, so processors' name-filter dispatch is codec-agnostic.
    """

    def __init__(self, package: str = "watermill", native: bool = False):
        self.package = package
        self.native = native

    def marshal(self, df: DataFrame, name: str, struct_cols: list[str]) -> DataFrame:
        import pandas as pd
        from pyspark.sql.types import BinaryType

        from .protowire import encode_message

        sub_schema = StructType(
            [df.schema[c] for c in struct_cols]
        )
        flds = _proto_fields_of(sub_schema)
        if self.native:
            from pyspark.sql.protobuf.functions import to_protobuf

            payload = to_protobuf(
                F.struct(*[F.col(c) for c in struct_cols]),
                f"{self.package}.{name}" if self.package else name,
                binaryDescriptorSet=self.descriptor_set(name, sub_schema),
            )
        else:
            # no type hints: a struct column arrives as pd.DataFrame in a
            # SCALAR pandas UDF (hint inference can't express that shape)
            def _enc(s):
                return s.apply(
                    lambda row: encode_message(row.to_dict(), flds), axis=1
                )

            enc = F.pandas_udf(_enc, BinaryType())
            payload = enc(F.struct(*[F.col(c) for c in struct_cols]))
        out = df.select(
            F.expr("uuid()").alias("uuid"),
            F.create_map(F.lit(NAME_KEY), F.lit(name)).alias("metadata"),
            payload.alias("payload"),
        )
        return ensure_message_df(out)

    def unmarshal(self, df: DataFrame, schema: StructType) -> DataFrame:
        import pandas as pd

        from .protowire import decode_message

        flds = _proto_fields_of(schema)
        names = [f.name for f in flds]
        if self.native:
            from pyspark.sql.protobuf.functions import from_protobuf

            # message name is positional-layout-determined; any registered
            # name with the same schema decodes identically
            parsed = from_protobuf(
                F.col("payload"),
                f"{self.package}.Message" if self.package else "Message",
                binaryDescriptorSet=self.descriptor_set("Message", schema),
            )
        else:

            def _dec(s):
                return pd.DataFrame(
                    [decode_message(b, flds) for b in s], columns=names
                )

            dec = F.pandas_udf(_dec, schema)
            parsed = dec(F.col("payload"))
        return df.select(
            F.struct(*[F.col(c) for c in MESSAGE_COLUMNS]).alias("_msg"),
            parsed.alias("_data"),
        ).select("_msg", "_data.*")

    def descriptor_set(self, name: str, schema: StructType) -> bytes:
        """FileDescriptorSet bytes for `name` — feed to Spark's native
        protobuf functions or write out for external consumers."""
        from .protowire import build_descriptor_set

        return build_descriptor_set(self.package, name, _proto_fields_of(schema))


def try_protobuf_marshaler(native: bool = False):
    """Construct a ProtobufMarshaler; `native=True` additionally requires
    the spark-protobuf artifact (returns None when the JVM side is absent —
    call sites fall back to JSON or the Python-codec marshaler)."""
    if not native:
        return ProtobufMarshaler()
    try:
        from pyspark.sql.protobuf.functions import from_protobuf, to_protobuf  # noqa: F401

        return ProtobufMarshaler(native=True)
    except Exception:  # noqa: BLE001
        return None
