"""Deterministic star-schema + LLM-data fixture for the benchmark.

The engine's queries read ten parquet tables (``catalog.TABLES``). This
module writes them from a fixed numpy seed, with the schemas and value
domains of FIXTURES.md section A, so the benchmark needs no data from
outside its checkout. Row counts scale linearly with ``sf`` (lineitem is
6M x sf rows). The tables are written once per checkout into
``perfbench/.cache/`` and reused: like a build output, generation is not
part of any timed or set-up metric.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generator changes: expected.json digests are tied to it.
VERSION = 1
SEED = 42

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "dark"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "plate", "screw", "spring"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
N_USERS = 1500
EMBED_DIM = 64


def _days(start: str, n: int, rng: np.random.Generator, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def tables(sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale ``sf``, generated from ``SEED``."""
    rng = np.random.default_rng(SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
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
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(PART_TYPES, rng.integers(0, len(PART_TYPES), n_part)),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days("1995-01-01", n_ord, rng, 2404),
            "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(["N", "A", "R"], rng.integers(0, 3, n_line)),
            "l_linestatus": _pick(["O", "F"], rng.integers(0, 2, n_line)),
            "l_shipdate": _days("1995-01-02", n_line, rng, 2499),
        }
    )
    # events: one arrival stream over 30 days, ids in time order
    gaps = rng.exponential(30 * 86400e6 / n_evt, n_evt).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, n_evt),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_evt)),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    # documents: bag-of-words over a closed vocabulary; 5% are an earlier
    # document's text plus " dup", so the dedup operators find work
    texts: list[str] = []
    is_dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if is_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in words))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _pick(LANGS, rng.choice(len(LANGS), n_doc, p=LANG_P)),
            "source": [f"src{i % N_SOURCES}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return out


def size_digest(sf_dir: str) -> str:
    """md5 prefix over (file name, size) pairs: identifies the fixture."""
    names = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    sizes = [(n, os.path.getsize(os.path.join(sf_dir, n))) for n in names]
    return hashlib.md5(repr(sizes).encode()).hexdigest()[:12]


def ensure(cache_dir: str, sf: float) -> str:
    """Return the fixture directory for ``sf``, writing it on first use.

    Written under a temporary name and renamed, so an interrupted build
    never leaves a half-written fixture behind."""
    target = os.path.join(cache_dir, f"fixture-v{VERSION}-sf{sf}")
    if os.path.isdir(target):
        return target
    tmp = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, target)
    return target
