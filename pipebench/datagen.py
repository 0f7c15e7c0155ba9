"""Seeded synthetic inputs for the benchmark.

Writes the engine's ten fixture tables (TPC-H-ish star schema, the
``events`` ratings stream, ``documents`` and ``embeddings``) as one
parquet file each, with the column names and types the catalog queries
read. Row counts scale with ``sf`` the same way the fixture tables do
(``customer`` = 150k x sf, ``lineitem`` = 6M x sf). The same ``seed``
always gives byte-identical tables.

Also builds the ratings-stream event batches and the Debezium-shaped
change batches the streaming and CDC workloads feed in.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join batch sort value hash filter big data dup spark line "
    "small fast group customer"
).split()
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
_EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n):
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _doc_text(rng, n_words):
    return " ".join(_pick(rng, WORDS, n_words))


def _sizes(sf: float) -> "dict[str, int]":
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def make_table(name: str, sf: float, seed: int) -> pa.Table:
    """Build one fixture table at scale ``sf``. Each table draws from its
    own seeded stream, so a subset of tables is the same as the full set
    restricted to it."""
    rng = np.random.default_rng([seed, 1, TABLES.index(name)])
    n = _sizes(sf)
    if name == "region":
        return pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        )
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if name == "customer":
        k = n["customer"]
        return pa.table(
            {
                "c_custkey": np.arange(k, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, k),
                "c_mktsegment": _pick(rng, SEGMENTS, k),
            }
        )
    if name == "supplier":
        k = n["supplier"]
        return pa.table(
            {
                "s_suppkey": np.arange(k, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, k),
            }
        )
    if name == "part":
        k = n["part"]
        pk = np.arange(k, dtype=np.int64)
        return pa.table(
            {
                "p_partkey": pk,
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(_pick(rng, PART_ADJ, k), _pick(rng, PART_NOUN, k))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
                "p_type": _pick(rng, PART_TYPES, k),
                "p_size": rng.integers(1, 51, k).astype(np.int32),
                "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
            }
        )
    if name in ("orders", "lineitem"):
        # lineitem ships after its order's date: both draw the order dates
        # from the orders stream
        k = n["orders"]
        orng = np.random.default_rng([seed, 1, TABLES.index("orders")])
        odate = _EPOCH_1995 + orng.integers(0, 2404, k) * _DAY_US
        if name == "orders":
            return pa.table(
                {
                    "o_orderkey": np.arange(k, dtype=np.int64),
                    "o_custkey": orng.integers(0, n["customer"], k),
                    "o_orderstatus": _pick(orng, ["F", "O", "P"], k),
                    "o_totalprice": _money(orng, 1000.0, 500000.0, k),
                    "o_orderdate": _ts(odate),
                    "o_orderpriority": _pick(orng, PRIORITIES, k),
                }
            )
        m = n["lineitem"]
        lok = rng.integers(0, k, m)
        return pa.table(
            {
                "l_orderkey": lok,
                "l_partkey": rng.integers(0, n["part"], m),
                "l_suppkey": rng.integers(0, n["supplier"], m),
                "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
                "l_quantity": rng.integers(1, 51, m).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, m),
                "l_discount": rng.integers(0, 11, m) / 100.0,
                "l_tax": rng.integers(0, 9, m) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], m),
                "l_linestatus": _pick(rng, ["F", "O"], m),
                "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, m) * _DAY_US),
            }
        )
    if name == "events":
        k = n["events"]
        ev_us = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, k))
        return pa.table(
            {
                "event_id": np.arange(k, dtype=np.int64),
                "ts": _ts(ev_us),
                "user_id": rng.integers(0, max(150, n["customer"] // 10), k),
                "event_type": _pick(rng, EVENT_TYPES, k),
                "value": np.round(rng.exponential(50.0, k), 2),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
            },
            schema=EVENTS_SCHEMA,
        )
    if name == "documents":
        k = n["documents"]
        texts = [_doc_text(rng, int(w)) for w in rng.integers(30, 100, k)]
        # ~5% near-duplicates (two words swapped out) and ~1% exact
        # copies, so the dedup operators have true pairs to find
        for i in rng.choice(k, k // 20, replace=False):
            src = texts[int(rng.integers(0, k))].split(" ")
            for j in rng.integers(0, len(src), 2):
                src[int(j)] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[int(i)] = " ".join(src)
        for i in rng.choice(k, k // 100, replace=False):
            texts[int(i)] = texts[int(rng.integers(0, k))]
        return pa.table(
            {
                "doc_id": np.arange(k, dtype=np.int64),
                "text": texts,
                "lang": _pick(rng, LANGS, k),
                "source": [f"src{i}" for i in rng.integers(0, 20, k)],
                "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
            }
        )
    if name == "embeddings":
        k = n["embeddings"]
        labels = rng.integers(0, 10, k).astype(np.int32)
        centers = rng.normal(0.0, 0.12, (10, 64))
        vecs = (centers[labels] + rng.normal(0.0, 0.06, (k, 64))).astype(np.float32)
        return pa.table(
            {
                "vec_id": np.arange(k, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": labels,
            }
        )
    raise KeyError(name)


def write_tables(out_dir: str, sf: float, seed: int, names=TABLES) -> str:
    """Write the named tables to ``out_dir/<name>.parquet``; returns
    ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(make_table(name, sf, seed), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def zipf_keys(rng, n_keys: int, size: int, s: float = 1.1) -> np.ndarray:
    """Zipf(s)-skewed draws over ``[0, n_keys)``: rank r has weight
    ``1 / (r+1)^s``; ranks map to keys through a seeded permutation so
    the hot keys are spread over the key space."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=size, p=w / w.sum())
    return rng.permutation(n_keys)[ranks]


def rating_batch(
    rng, first_id: int, n: int, ts_us: int, n_cust: int,
    unmatched_share: float = 0.05, err_share: float = 0.2,
) -> pa.Table:
    """One tick's ratings events, all stamped ``ts_us`` (their creation
    time). ``user_id`` is Zipf-skewed over the customer keys, with
    ``unmatched_share`` of events pointing past the last customer (the
    enrichment join's NULL path); ``err_share`` of ``event_type`` values
    are ``error`` (dropped by the LIVE filter)."""
    users = zipf_keys(rng, n_cust, n)
    miss = rng.random(n) < unmatched_share
    users[miss] = n_cust + rng.integers(0, n_cust, int(miss.sum()))
    etype = np.where(
        rng.random(n) < err_share,
        "error",
        np.asarray(EVENT_TYPES[:4], dtype=object)[rng.integers(0, 4, n)],
    )
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": _ts(np.full(n, ts_us, dtype=np.int64)),
            "user_id": users.astype(np.int64),
            "event_type": etype,
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        schema=EVENTS_SCHEMA,
    )


def debezium_batch(rng, keys: np.ndarray, deletes: np.ndarray, seq0: int) -> "list[dict]":
    """Debezium envelopes for one change batch over ``customer``: an
    update (``op='u'``) per key, or a delete (``op='d'``, NULL ``after``)
    where ``deletes`` is set. ``ts_ms`` is strictly increasing, so the
    latest change per key is well defined."""
    out = []
    for i, (k, d) in enumerate(zip(keys.tolist(), deletes.tolist())):
        row = {
            "c_custkey": int(k),
            "c_name": f"Customer#{int(k):09d}",
            "c_nationkey": int(rng.integers(0, 25)),
            "c_acctbal": float(np.round(rng.uniform(-999.99, 9999.99), 2)),
            "c_mktsegment": SEGMENTS[int(rng.integers(0, len(SEGMENTS)))],
        }
        out.append(
            {
                "before": {"c_custkey": int(k)},
                "after": None if d else row,
                "op": "d" if d else "u",
                "ts_ms": seq0 + i,
            }
        )
    return out
