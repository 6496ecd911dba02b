"""Deterministic input generation for the benchmark.

The corpus has the schema and value domains of the star schema the query
layer is written against (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings): uniform random keys and
measures, ~2,500 ship days, 30 days of events, documents over a
31-word vocabulary with a share of near-duplicates, and unit-norm
64-dimensional embeddings around ten label centroids.

The corpus is a pure function of ``(scale, CORPUS_SEED)``, so every run
sees the same base tables; the workload seed only decides what changes
(the lake's edited days) and in what order operations run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = dt.date(1995, 1, 2)
SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04
EVENT_DAY0 = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30


def _days(day0: dt.date, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(day0, "D") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def corpus(scale: float) -> dict[str, pa.Table]:
    """Every base table at ``scale`` (1.0 = 6M lineitem rows)."""
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_line = max(2_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(20, int(15_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_vec = max(200, int(50_000 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {n}" for a in ADJECTIVES for n in NOUNS])
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n_ord)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n_line)),
        }
    )
    ts_us = np.sort(rng.integers(0, EVENT_DAYS * 86_400 * 10**6, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64(EVENT_DAY0, "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences; every tenth document is a near-duplicate of
    an earlier one (one word replaced), so the dedup operators find real
    clusters."""
    texts: list[str] = []
    for i in range(n):
        if i % 10 == 9:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
        texts.append(" ".join(words))
    lang_p = np.array([0.14, 0.44, 0.14, 0.13, 0.15])
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Noisy points around ten label centroids; every twentieth vector is
    a near-copy (cosine ~0.99) of an earlier one, so semantic dedup at its
    0.92 threshold finds pairs well clear of the cut-off."""
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, 64))
    for i in range(19, n, 20):
        j = int(rng.integers(0, i))
        labels[i] = labels[j]
        vecs[i] = vecs[j] / np.linalg.norm(vecs[j]) + rng.normal(0.0, 0.02, 64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)), flat
            ),
            "label": labels.astype(np.int32),
        }
    )


def write_corpus(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
