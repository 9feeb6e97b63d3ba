"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten fixture tables the registry reads
(``<dir>/<table>.parquet``) from a seed.  What matches the shipped
fixture files: table and column names, the Arrow column types (all
timestamps ``timestamp[us]``, as in the sf0.1 files; FIXTURES.md
describes an older generation with ``ms``/``ns`` timestamps, which the
engine's readers also accept) and the row counts of each scale factor:
``scale=0.01`` gives 60,000 lineitem rows, 10,000 events and 500
documents.  The value distributions (key skew, value ranges, the
near-duplicate pattern in ``documents``) are this module's own and were
not fitted to the fixtures.  Everything is drawn with NumPy from
``seed``, so one seed always gives byte-identical tables and the engine
only ever sees these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
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
]

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "hot", "large", "small", "dark", "pale"]
NOUNS = ["bolt", "ring", "gear", "nut", "screw", "spring", "valve", "pipe"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _dates(rng, n: int, lo: str, hi: str) -> pa.Array:
    days = rng.integers(0, (_us(hi) - _us(lo)) // _DAY_US, n)
    return pa.array(_us(lo) + days * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    """Token soup over a 30-word vocabulary, 10-100 tokens per doc; one
    doc in twenty is an earlier doc's text plus the token ``dup`` (the
    near-duplicates the curation operators look for)."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors: Gaussian noise around one of ten weak class centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.6 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1) * EMBED_DIM, pa.int32()), flat
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """All ten tables for one seed, in memory."""
    def rng(i: int):
        return np.random.default_rng([seed, i])

    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    r = rng(1)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
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
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(r, SEGMENTS, n_cust),
        }
    )
    r = rng(2)
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(r, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": _pick(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    r = rng(3)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(r, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _dates(r, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(r, PRIORITIES, n_ord),
        }
    )
    r = rng(4)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, n_line, 900.0, 105_000.0),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(r, ["F", "O"], n_line),
            "l_shipdate": _dates(r, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    r = rng(5)
    ts = np.sort(r.integers(_us("2024-01-01"), _us("2024-01-31"), n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, n_ev),
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng(6), n_docs)
    t["embeddings"] = _embeddings(rng(7), n_vecs)
    return t


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
