"""Seeded generator of the lakeflow fixture tables.

Writes the ten tables the registered queries read (``region nation customer
supplier part orders lineitem events documents embeddings``) as one parquet
file each. Schemas, parquet timestamp types (microseconds, not adjusted to
UTC), row counts and value distributions follow the seed-42 test
fixture files, as read from those files rather than from FIXTURES.md (which
lists ``events.ts`` as nanoseconds and the order/ship dates as milliseconds;
the files carry microseconds). The same ``(seed, sf)`` always gives
byte-identical tables, so a run's inputs depend only on its seed.

Row counts follow the fixtures: ``sf=0.01`` gives 1,500 customers, 15,000
orders, 60,000 line items and 10,000 events; the two corpora stay at 500
rows below ``sf=0.1``. Like the fixtures, the documents are draws from a
30-word vocabulary with 5% near duplicates, and the embeddings independent
random unit vectors with none.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "red", "small", "steel", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()  # "dup" only marks the near duplicates

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_ORDER_DAYS = 2405  # o_orderdate: 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2500  # l_shipdate: 1995-01-02 .. 2001-11-04
_EVENT_SPAN_US = 30 * 86400 * 10**6


def _counts(sf: float) -> dict[str, int]:
    corpus = max(500, int(round(50_000 * sf)))
    return {
        "customer": max(15, int(round(150_000 * sf))),
        "supplier": max(10, int(round(10_000 * sf))),
        "part": max(20, int(round(200_000 * sf))),
        "orders": max(150, int(round(1_500_000 * sf))),
        "lineitem": max(600, int(round(6_000_000 * sf))),
        "events": max(100, int(round(1_000_000 * sf))),
        "documents": corpus,
        "embeddings": corpus,
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int, first: int, end: int) -> np.ndarray:
    days = rng.integers(first, end, n)
    return (_EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random 10-99-word texts over ``VOCAB``; 5% of the documents, as in the
    fixtures, are near duplicates: another document's text with " dup" appended (applied
    in turn, so chains occur)."""
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)) for k in lengths]
    for i in rng.choice(n, int(round(0.05 * n)), replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return texts


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> np.ndarray:
    v = rng.normal(0.0, 1.0, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten fixture tables for ``(seed, sf)`` as Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    n = _counts(sf)
    out: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": pa.array(_dates(rng, no, 0, _ORDER_DAYS), pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flag = rng.integers(0, 3, nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": [["A", "N", "R"][j] for j in flag],
            "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(_dates(rng, nl, 1, _SHIP_DAYS), pa.timestamp("us")),
        }
    )
    out["events"] = events(
        rng, 0, n["events"], _EVENTS_T0, _EVENT_SPAN_US, users=max(15, nc // 10)
    )
    nd = n["documents"]
    texts = _doc_texts(rng, nd)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    ne = n["embeddings"]
    emb = _embeddings(rng, ne)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(ne), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.field("element", pa.float32()))),
            "label": pa.array(rng.integers(0, 10, ne), i32),
        }
    )
    return out


def events(
    rng: np.random.Generator,
    first_id: int,
    n: int,
    t0: np.datetime64,
    span_us: int,
    users: int,
) -> pa.Table:
    """``n`` events with ids from ``first_id`` and time-ordered ``ts`` drawn
    uniformly from ``[t0, t0 + span_us)``."""
    ts = t0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
        }
    )


def write(out_dir: str, seed: int, sf: float) -> str:
    """Write the fixture set for ``(seed, sf)`` under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
