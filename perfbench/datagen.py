"""Seeded input generation for the benchmark (numpy + pyarrow, no Spark).

Everything the system under test reads is made here from the run's seed, so
the same seed gives byte-identical inputs and no Spark time is spent on them.

- ``write_tables``: the ten analytics tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) with the schemas and value
  distributions of the repository's analytics test data. Row counts scale
  linearly with ``sf`` (sf0.1: 600k lineitem rows, 100k events).
- ``message_table``: a batch of messages in the transport's message schema.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts at sf=1 (region and nation are fixed-size).
_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
EVENT_USERS_SF1 = 15_000
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "small", "red", "new", "cold"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64
_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404
_EVENT_START = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000

MESSAGE_ARROW_SCHEMA = pa.schema(
    [
        pa.field("uuid", pa.string(), nullable=False),
        pa.field("metadata", pa.map_(pa.string(), pa.string())),
        pa.field("payload", pa.binary()),
        pa.field("topic", pa.string()),
        pa.field("event_time", pa.timestamp("us", tz="UTC")),
    ]
)


def _n(table: str, sf: float) -> int:
    return max(1, int(round(_ROWS_SF1[table] * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = _n("customer", sf), _n("supplier", sf), _n("part", sf)
    n_ord, n_li = _n("orders", sf), _n("lineitem", sf)
    n_doc, n_emb = _n("documents", sf), _n("embeddings", sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    order_days = rng.integers(0, _ORDER_DAYS, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ORDER_START + order_days.astype("timedelta64[D]"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    li_order = rng.integers(0, n_ord, n_li)
    ship_days = order_days[li_order] + rng.integers(1, 96, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ORDER_START + ship_days.astype("timedelta64[D]"),
        }
    )
    t["events"] = events_table(seed, sf)
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one token replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(10, 101))]
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    vec = rng.standard_normal((n_emb, _EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.ravel()), _EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def events_table(seed: int, sf: float) -> pa.Table:
    """The ``events`` table alone (its own random stream)."""
    rng = np.random.default_rng([seed, 1])
    n_ev = _n("events", sf)
    n_users = max(1, int(round(EVENT_USERS_SF1 * sf)))
    ev_ts = _EVENT_START + np.sort(rng.integers(0, _EVENT_SPAN_US, n_ev)).astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": ev_ts,
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write ``<out_dir>/<table>.parquet`` (one file, one row group each, like
    the repository's test data) and return the tables."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(seed, sf)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return tables


def seeded_uuids(rng: np.random.Generator, n: int) -> pa.Array:
    """``n`` distinct version-4-shaped UUID strings drawn from ``rng``."""
    nibbles = rng.integers(0, 16, size=(n, 32), dtype=np.uint8)
    nibbles[:, 12] = 4
    nibbles[:, 16] = 8 + nibbles[:, 16] % 4
    hexed = np.frombuffer(b"0123456789abcdef", np.uint8)[nibbles]
    text = np.full((n, 36), ord("-"), np.uint8)
    for dst, src in ((0, 0), (9, 8), (14, 12), (19, 16), (24, 20)):
        width = {0: 8, 20: 12}.get(src, 4)
        text[:, dst : dst + width] = hexed[:, src : src + width]
    out = pa.array(text.view("S36").ravel(), pa.binary(36)).cast(pa.string())
    if pc.count_distinct(out).as_py() != n:
        raise RuntimeError("seeded uuid collision; choose another seed")
    return out


def message_table(
    uuids: pa.Array,
    metadata: list[list[tuple[str, str]]],
    payloads: list[bytes],
    event_time_us: np.ndarray,
) -> pa.Table:
    """Messages in the transport's schema; ``event_time`` in UTC microseconds."""
    return pa.table(
        {
            "uuid": uuids,
            "metadata": pa.array(metadata, pa.map_(pa.string(), pa.string())),
            "payload": pa.array(payloads, pa.binary()),
            "topic": pa.nulls(len(uuids), pa.string()),
            "event_time": pa.array(
                np.asarray(event_time_us, dtype=np.int64), pa.timestamp("us", tz="UTC")
            ),
        },
        schema=MESSAGE_ARROW_SCHEMA,
    )
