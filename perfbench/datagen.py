"""Seeded generator of the ten source tables the engine reads.

The tables have the schemas, key ranges and value vocabularies of the
TPC-H-ish fixtures the engine is developed against (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), scaled by ``sf`` the same way: 25 docs per source per 0.01
of sf, 20 sources, embeddings for at most 2000 documents.  The same seed
writes byte-identical tables.  Only numpy and pyarrow are used, so
generation needs no Spark session.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part merge window "
    "order column join vector"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
N_SOURCES = 20
DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05


def _days(start: str, n_days: int, rng: np.random.Generator, size: int) -> pa.Array:
    """Midnight timestamps on random days in ``[start, start + n_days)``."""
    base = np.datetime64(datetime.fromisoformat(start), "us")
    offs = rng.integers(0, n_days, size).astype("timedelta64[D]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad texts over a 31-word vocabulary; 5% are near-duplicates
    (an earlier doc's text plus ' dup') so the dedup operators find
    work."""
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lens):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm 64-d vectors around ten label centroids."""
    labels = rng.integers(0, N_LABELS, n)
    centers = rng.standard_normal((N_LABELS, DIM))
    vecs = centers[labels] + 0.8 * rng.standard_normal((n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat
        ),
        "label": labels.astype(np.int32),
    })


def tables(seed: int, sf: float, names: tuple[str, ...] = ALL_TABLES) -> dict[str, pa.Table]:
    """The named tables for ``seed`` at scale ``sf``.  Each table draws
    from its own stream, so asking for a subset gives the same rows."""
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_docs = max(int(50_000 * sf), N_SOURCES)
    n_emb = min(n_docs, 2000)
    out: dict[str, pa.Table] = {}
    for idx, name in enumerate(ALL_TABLES):
        if name not in names:
            continue
        rng = np.random.default_rng([seed, idx])
        if name == "region":
            t = pa.table({
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            })
        elif name == "nation":
            t = pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            })
        elif name == "customer":
            t = pa.table({
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ).tolist(),
            })
        elif name == "supplier":
            t = pa.table({
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            })
        elif name == "part":
            adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
            noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
            t = pa.table({
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{adj[a]} {noun[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
                ).tolist(),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            })
        elif name == "orders":
            t = pa.table({
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ).tolist(),
            })
        elif name == "lineitem":
            flags = rng.integers(0, 6, n_li)
            t = pa.table({
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[flags // 2].tolist(),
                "l_linestatus": np.array(["F", "O"])[flags % 2].tolist(),
                "l_shipdate": _days("1995-01-02", 2498, rng, n_li),
            })
        elif name == "events":
            ts = np.sort(
                rng.integers(0, 30 * 86_400_000_000, n_ev)
            ).astype("timedelta64[us]") + np.datetime64("2024-01-01T00:00:00", "us")
            t = pa.table({
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": rng.integers(0, max(int(15_000 * sf), 5), n_ev).astype(np.int64),
                "event_type": rng.choice(
                    ["click", "error", "purchase", "signup", "view"], n_ev
                ).tolist(),
                "value": np.round(rng.gamma(2.0, 25.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            })
        elif name == "documents":
            t = documents(rng, n_docs)
        else:
            t = embeddings(rng, n_emb)
        out[name] = t
    return out


def write(out_dir: str, seed: int, sf: float, names: tuple[str, ...] = ALL_TABLES) -> dict[str, int]:
    """Write ``{out_dir}/{name}.parquet`` for each table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sf, names).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
