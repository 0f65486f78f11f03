"""Deterministic generator for the engine's input tables.

Writes the ten parquet tables the query registry reads (the TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``) with the
same column names, types and value distributions as the reference test
data, scaled by ``sf``. Row counts follow the reference sizes:
lineitem 6M x sf, orders 1.5M x sf, ``documents`` at least 500 rows.

The tables depend only on ``sf`` and ``DATA_SEED``, never on the run
seed, so the expected query checksums in ``expected.json`` stay valid
for every run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The tables in ``names`` at scale factor ``sf``, as Arrow tables.
    Each table draws from its own random stream, so a table is the same
    whichever other tables are generated with it."""
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def region(rng):
        return pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})

    def nation(rng):
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        )

    def customer(rng):
        return pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        )

    def supplier(rng):
        return pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        )

    def part(rng):
        adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
        noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
        return pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": np.char.add(np.char.add(adj, " "), noun),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        )

    def orders(rng):
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        )

    def lineitem(rng):
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            }
        )

    def events(rng):
        month_us = 30 * 86_400 * 1_000_000
        ts = np.sort(rng.integers(0, month_us, n_evt))
        return pa.table(
            {
                "event_id": pa.array(np.arange(n_evt), i64),
                "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
                "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
                "value": np.round(rng.exponential(50.0, n_evt), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
            }
        )

    def documents(rng):
        vocab = np.array(VOCAB)
        texts = [
            " ".join(vocab[rng.integers(0, len(VOCAB), int(k))])
            for k in rng.integers(10, 100, n_docs)
        ]
        # one document in twenty is an exact copy of another plus a
        # " dup" marker, so the dedup and near-duplicate operators find
        # real pairs
        for i in np.flatnonzero(rng.random(n_docs) < 0.05):
            texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
        return pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), i64),
                "text": texts,
                "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], i64),
            }
        )

    def embeddings(rng):
        vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), i64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vecs), i32),
            }
        )

    builders = {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }
    return {
        name: builders[name](np.random.default_rng([DATA_SEED, TABLES.index(name)]))
        for name in names
    }


def write(sf: float, out_dir: str, names=TABLES) -> dict[str, int]:
    """Write the tables in ``names`` under ``out_dir`` as
    ``<name>.parquet``; return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(sf, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
