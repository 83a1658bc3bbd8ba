"""Seeded synthetic input tables for the benchmark.

The library's queries read a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings`` parquet tables (see FIXTURES.md for the
schemas). This module writes the same schemas and value domains from a seed,
so a run needs no data from outside its own checkout and the same seed always
gives byte-identical inputs.

Shapes follow the repository's test tables: ``sf`` scales the fact and
dimension row counts (lineitem ~ 6M x sf), documents are whitespace text over
a 31-word vocabulary with ~5% planted near-duplicates (one word appended to a
copy, so 3-shingle Jaccard >= 0.94 against a background near 0), and
embeddings are 64-dim float32 vectors around ten cluster centres.
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
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMB_DIM = 64


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n)


def _ts_from_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    n_dups = max(1, n // 20)
    dup_at = set(rng.choice(np.arange(n // 10, n), size=n_dups, replace=False).tolist())
    for i in range(n):
        if i in dup_at:
            src = texts[int(rng.integers(0, i))]
            while len(src.split()) < 20:  # short sources would fall under J = 0.9
                src = texts[int(rng.integers(0, i))]
            texts.append(f"{src} {vocab[rng.integers(0, len(vocab))]}")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 18, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(size=(10, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    vecs = 0.5 * centres[label] + rng.normal(scale=0.85 / np.sqrt(EMB_DIM), size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(n + 1) * EMB_DIM, pa.int32()), flat),
        "label": pa.array(label, pa.int32()),
    })


def make_tables(seed: int, sf: float, names: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """Return the named tables at scale factor ``sf`` for ``seed``.

    Every table draws from its own child generator, so which tables are asked
    for does not change the values of the others."""
    rngs = dict(zip(TABLES, np.random.default_rng(seed).spawn(len(TABLES))))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    for name in names:
        rng = rngs[name]
        if name == "region":
            out[name] = pa.table({
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            })
        elif name == "nation":
            out[name] = pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
                "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
            })
        elif name == "customer":
            out[name] = pa.table({
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            })
        elif name == "supplier":
            out[name] = pa.table({
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], pa.string()),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
            })
        elif name == "part":
            out[name] = pa.table({
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array([f"part {k}" for k in range(n_part)], pa.string()),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
                "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + 0.1 * (np.arange(n_part) % 1000), 2), pa.float64()),
            })
        elif name == "orders":
            out[name] = pa.table({
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), pa.float64()),
                "o_orderdate": _ts_from_days(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            })
        elif name == "lineitem":
            qty = rng.integers(1, 51, n_line).astype(np.float64)
            out[name] = pa.table({
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": pa.array(qty, pa.float64()),
                "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_line), 2), pa.float64()),
                "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2), pa.float64()),
                "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2), pa.float64()),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _ts_from_days(_days(rng, "1995-01-02", "2001-11-04", n_line)),
            })
        elif name == "events":
            start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
            ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n_ev))
            out[name] = pa.table({
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": pa.array(_money(rng, 0.0, 20.0, n_ev), pa.float64()),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
            })
        elif name == "documents":
            out[name] = _documents(rng, n_docs)
        elif name == "embeddings":
            out[name] = _embeddings(rng, n_emb)
        else:
            raise KeyError(name)
    return out


def write_tables(out_dir: str, seed: int, sf: float, names: tuple[str, ...] = TABLES) -> str:
    """Write ``<out_dir>/<table>.parquet`` for each named table; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
