"""Seeded synthetic input tables for the benchmark.

Writes the ten catalog tables (``ayeaye_spark.catalog.TABLES``) as one
parquet file each, with the schemas, key ranges and value shapes of the
repository's reference test data: TPC-H-like star schema sized by a
scale factor, a clickstream ``events`` table over 30 days, a word-soup
``documents`` corpus in which 5% of the documents are near-duplicates
of another, distinct original document (text + " dup"), and unit-norm 64-d ``embeddings``
that lean weakly towards one of ten label centroids.

Every money/ratio column is rounded to 2 decimal places, because the
catalog's exact-decimal sums rely on it.  The same ``(seed, sf)`` gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> pa.Array:
    day = np.datetime64(start, "D") + rng.integers(0, span, n)
    return pa.array(day.astype("datetime64[us]"))


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    size = table_sizes(sf)
    rngs = {
        name: np.random.default_rng([seed, i])
        for i, name in enumerate(
            ["customer", "supplier", "part", "orders", "lineitem",
             "events", "documents", "embeddings"]
        )
    }
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    rng, n = rngs["customer"], size["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })

    rng, n = rngs["supplier"], size["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })

    rng, n = rngs["part"], size["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    })

    rng, n = rngs["orders"], size["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, size["customer"], n)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })

    rng, n = rngs["lineitem"], size["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, size["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, size["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, size["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": _money(rng, 0.0, 0.10, n),
        "l_tax": _money(rng, 0.0, 0.08, n),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n),
    })

    rng, n = rngs["events"], size["events"]
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.integers(1, 2 * span_us // n, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, size["users"], n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    rng, n = rngs["documents"], size["documents"]
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # each duplicate copies a distinct original, so every near-dup
    # component is one pair and the iterative graph queries take the same
    # number of rounds for every seed
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n), dups), len(dups), replace=False)
    for i, src in zip(dups, originals):
        texts[i] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    rng, n = rngs["embeddings"], size["embeddings"]
    centroids = rng.standard_normal((N_LABELS, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    noise = rng.standard_normal((n, EMB_DIM))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = noise + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
