"""Seeded generator of the TPC-H-shaped input tables.

Writes the ten tables the registry queries read (``region`` … ``embeddings``)
as one parquet file each, with the schemas and value distributions of the
engine's reference test data: uniform foreign keys (so ~2% of orders have no
lineitem and (orderkey, linenumber) repeats), independent order and ship
dates, a 31-word document vocabulary with 5% planted near-duplicates, and
clustered 64-d embeddings. The same ``(seed, sf)`` always gives the same
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "hot", "new", "old", "large", "small", "red", "cold"]
PART_NOUN = ["bolt", "gear", "gizmo", "ring", "anvil", "spring", "valve", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(start: str, n: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + n).astype("datetime64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write all ten tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 20)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 20)
    n_doc = max(int(50_000 * sf), 60)
    n_emb = max(int(20_000 * sf), 40)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", orders_columns(rng, n_ord, n_cust))
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_line)),
    })
    # events: 30 days of microsecond timestamps in event_id order
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + (
        np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH
    ).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", documents_columns(rng, n_doc))
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb, dtype=np.int32)
    vecs = centers[label] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": label,
    })


def orders_columns(rng: np.random.Generator, n: int, n_cust: int) -> dict:
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    }


def documents_columns(rng: np.random.Generator, n: int) -> dict:
    """Random word strings of 10-100 tokens; every 20th document is a
    copy of an earlier long (>= 40 token) document plus one extra token.
    Long originals keep every planted pair at word-trigram Jaccard
    >= 0.97, where MinHash banding cannot miss it, and random pairs stay
    far below the 0.5 threshold."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    long_ids: list[int] = []
    for i in range(n):
        if i % 20 == 19 and long_ids:
            texts.append(texts[long_ids[int(rng.integers(0, len(long_ids)))]] + " dup")
            continue
        n_tok = int(rng.integers(10, 101))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_tok)]))
        if n_tok >= 40:
            long_ids.append(i)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def query_order(seed: int, names: list[str], pass_no: int) -> list[str]:
    """The seeded order in which one analytics pass runs the mix."""
    rng = np.random.default_rng([seed, 2, pass_no])
    return [names[i] for i in rng.permutation(len(names))]
