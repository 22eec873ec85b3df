"""Seeded generator for the engine's ten input tables.

Writes ``{out_dir}/{table}.parquet`` with the schemas and value
distributions of the synthetic TPC-H-like tier the engine is built
for (uniform keys and prices, 8x8 part names, 30-word document
vocabulary with 5% planted near-duplicates, unit-norm 64-d
embeddings). Row counts scale with ``sf`` the same way: lineitem has
6,000,000 x sf rows. The same (seed, sf) always writes the same bytes
of data, so a benchmark run is reproducible from its seed alone.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
NOUNS = ("widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
EMBED_DIM = 64

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(np.int64)
    return rng.integers(a, b + 1, n) * 86_400_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros, pa.int64()).cast(pa.timestamp("us"))


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, round(150_000 * sf)),
        "supplier": max(3, round(10_000 * sf)),
        "part": max(64, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(40, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    bases: list[str] = []
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            base = bases[int(rng.integers(0, i))]
            text = base + " dup" * int(rng.integers(1, 4))
        else:
            k = int(rng.integers(10, 100))
            base = text = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
        bases.append(base)
        texts.append(text)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory (deterministic in ``seed``)."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    pick = lambda vals, k: [vals[j] for j in rng.integers(0, len(vals), k)]  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, k, rng),
        "c_mktsegment": pick(SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, k, rng),
    })
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(pick(ADJECTIVES, k), pick(NOUNS, k))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, k)],
        "p_type": pick(PART_TYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": pick(("F", "O", "P"), k),
        "o_totalprice": _money(1000.0, 500000.0, k, rng),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", k, rng)),
        "o_orderpriority": pick(PRIORITIES, k),
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, k, rng),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), k),
        "l_linestatus": pick(("F", "O"), k),
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", k, rng)),
    })
    k = n["events"]
    start = int((np.datetime64(datetime(2024, 1, 1)) - np.datetime64("1970-01-01")) // np.timedelta64(1, "us"))
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(np.sort(start + rng.integers(0, 30 * 86_400_000_000, k))),
        "user_id": rng.integers(0, max(1, n["customer"] // 10), k).astype(np.int64),
        "event_type": pick(EVENT_TYPES, k),
        "value": _money(0.01, 500.0, k, rng),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, k)],
    })
    out["documents"] = _documents(n["documents"], rng)
    out["embeddings"] = _embeddings(n["embeddings"], rng)
    return out


def write_tier(out_dir: str, sf: float, seed: int) -> None:
    """Write all tables under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    # python3 -m perfbench.datagen OUT_DIR SF SEED
    import sys

    write_tier(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
