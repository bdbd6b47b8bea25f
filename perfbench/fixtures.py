"""Deterministic synthetic tables for the benchmark.

The benchmark reads and writes only inside its checkout, so it cannot use
fixtures kept elsewhere on the host. This module writes the ten tables that
``spark_ml_spark.io.sources.TABLES`` names, with the schemas and value
domains of the repo's test fixtures (``FIXTURES.md``), from a fixed seed.
Row counts follow the TPC-H scale-factor convention: ``lineitem`` has
6,000,000 × sf rows.

The data seed is fixed (:data:`DATA_SEED`); the workload seed only permutes
query order. So every run of one scale sees byte-identical parquet, and the
expected digests committed beside this file stay valid.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
EMBED_DIM = 64
DUP_SHARE = 0.05


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "users": round(15_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    epoch = np.datetime64(start.isoformat(), "D")
    days = epoch + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def tables(sf: float) -> dict[str, pa.Table]:
    """Every table at scale ``sf``, built from :data:`DATA_SEED` in a fixed
    order (each table draws from its own child generator, so adding a
    column to one table leaves the others unchanged)."""
    n = _counts(sf)
    rngs = dict(zip(
        ("customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings"),
        np.random.default_rng(DATA_SEED).spawn(8),
    ))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rngs["customer"]
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": _ids(k),
        "c_name": _names("Customer", k),
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": _pick(r, SEGMENTS, k),
    })

    r = rngs["supplier"]
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": _ids(k),
        "s_name": _names("Supplier", k),
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r = rngs["part"]
    k = n["part"]
    keys = np.arange(k)
    out["part"] = pa.table({
        "p_partkey": _ids(k),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            r.integers(0, 8, k), r.integers(0, 8, k))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)], pa.string()),
        "p_type": _pick(r, PART_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })

    r = rngs["orders"]
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": _ids(k),
        "o_custkey": r.integers(0, n["customer"], k, dtype=np.int64),
        "o_orderstatus": _pick(r, ("F", "O", "P"), k),
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _days(r, dt.date(1995, 1, 1), 2400, k),
        "o_orderpriority": _pick(r, PRIORITIES, k),
    })

    r = rngs["lineitem"]
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], k, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, k),
        "l_discount": np.round(r.uniform(0.0, 0.1, k), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, k), 2),
        "l_returnflag": _pick(r, ("A", "N", "R"), k),
        "l_linestatus": _pick(r, ("F", "O"), k),
        "l_shipdate": _days(r, dt.date(1995, 1, 2), 2499, k),
    })

    r = rngs["events"]
    k = n["events"]
    # a Poisson stream over January 2024, microsecond timestamps
    span_us = 30 * 86_400 * 1_000_000
    gaps = r.exponential(1.0, k)
    offs = (np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table({
        "event_id": _ids(k),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(0, n["users"], k, dtype=np.int64),
        "event_type": _pick(r, EVENT_TYPES, k),
        "value": np.maximum(np.round(r.exponential(50.0, k), 2), 0.01),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
                          pa.string()),
    })

    r = rngs["documents"]
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 0 and r.random() < DUP_SHARE:
            # a near duplicate: an earlier document with one token appended
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(
                WORDS[w] for w in r.integers(0, len(WORDS), int(r.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": _ids(k),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, k, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(k)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = rngs["embeddings"]
    k = n["embeddings"]
    labels = r.integers(0, 10, k)
    centroids = r.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = r.normal(0.0, 1.0, (k, EMBED_DIM)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": _ids(k),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def ensure(out_dir: str, sf: float) -> str:
    """Write every table at scale ``sf`` under ``out_dir/sf<sf>`` unless a
    complete copy is already there; return that directory."""
    target = os.path.join(out_dir, f"sf{sf:g}")
    if os.path.exists(os.path.join(target, "_COMPLETE")):
        return target
    tmp = target + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(target, ignore_errors=True)
    os.rename(tmp, target)
    return target
