"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registered queries read (``region`` .. ``embeddings``)
as one parquet file each, with the same column names, types and value shapes
as the repository's synthetic test data, so every query and its DuckDB oracle
run unchanged against the generated directory. The same ``(seed, sf)`` always
gives the same tables.

Row counts scale with ``sf`` the way the test data does: at sf0.1 there are
600k ``lineitem`` rows, 150k ``orders``, 100k ``events``, 5k ``documents`` and
2k ``embeddings``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "hot", "cold", "small", "large", "green", "dark"]
PART_NOUN = ["anvil", "gear", "gizmo", "plate", "ring", "widget", "bolt", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "ta", "shi", "po", "ve", "da",
    "zu", "ge", "fa", "bi", "no", "re", "sa", "tu", "me", "li",
]
#: 2000 distinct made-up words; documents draw them with Zipf(1) weights,
#: so common words dominate and rare ones make documents distinct.
VOCAB = [
    _SYLLABLES[i % 20] + _SYLLABLES[(i // 20) % 20]
    + (_SYLLABLES[(i // 400) % 20] if i >= 400 else "")
    for i in range(2000)
]
EMB_DIM = 64
N_LABELS = 10

#: 2024-01-01 00:00 UTC in microseconds: the events window starts here.
EVENTS_T0_US = 1_704_067_200_000_000
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
#: 1995-01-01 in days since the epoch: the order-date range starts here.
ORDERS_D0 = 9131
ORDERS_DAYS = 2404

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words documents; about one in ten is a light edit of an
    earlier one, so the near-duplicate operators find real pairs."""
    vocab = np.array(VOCAB)
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = str(vocab[rng.choice(len(vocab), p=weights)])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.choice(len(vocab), lengths[i], p=weights)]))
    return texts


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(20, int(20_000 * sf)),
    }


def _price(partkey: np.ndarray) -> np.ndarray:
    return np.round(900.0 + (partkey % 1000) / 10.0, 2)


def _table(name: str, rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        })
    k = n.get(name, 0)
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)],
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        })
    if name == "part":
        adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), k)]
        noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), k)]
        return pa.table({
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, k).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, k)],
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": _price(np.arange(k)),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _ts_days(ORDERS_D0 + rng.integers(0, ORDERS_DAYS, k)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
        })
    if name == "lineitem":
        partkey = rng.integers(0, n["part"], k)
        qty = rng.integers(1, 51, k).astype("float64")
        price = qty * _price(partkey) * rng.uniform(0.98, 1.02, k)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(price, 2),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
            "l_shipdate": _ts_days(ORDERS_D0 + 1 + rng.integers(0, ORDERS_DAYS + 90, k)),
        })
    if name == "events":
        return pa.table({
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(
                np.sort(EVENTS_T0_US + rng.integers(0, EVENTS_SPAN_US, k)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(15, k // 66), k), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        })
    if name == "documents":
        texts = _texts(rng, k)
        return pa.table({
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), k)],
            "source": np.char.add("src", rng.integers(0, 20, k).astype(str)),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        })
    if name == "embeddings":
        labels = rng.integers(0, N_LABELS, k)
        centers = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
        vecs = centers[labels] + rng.normal(0.0, 0.8, (k, EMB_DIM))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
        return pa.table({
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        })
    raise ValueError(f"unknown table {name!r}")


def build_tables(
    seed: int, sf: float, names: list[str] | None = None
) -> dict[str, pa.Table]:
    """The named tables (default: all ten) for one ``(seed, sf)``, in
    memory. Each table draws from its own random stream, so a table is the
    same whichever others are built with it."""
    sizes = _sizes(sf)
    return {
        name: _table(name, np.random.default_rng([seed, TABLES.index(name)]), sizes)
        for name in (names or TABLES)
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Generate and write every table to ``out_dir/<name>.parquet``;
    returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
