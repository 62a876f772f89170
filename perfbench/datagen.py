"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the engine reads (one parquet file each, the
layout of the test fixtures) at scale factor ``sf``.  Row counts and
value distributions follow the TPC-H-like fixture the engine is
developed against: uniform foreign keys, a 30-word document vocabulary
with 5% near-duplicate documents (a copy plus the token ``dup``), and
random unit-norm 64-dim embeddings.  The tables depend only on ``sf``
and the fixed generator seed, never on the run's ``--seed``: the run
seed changes request order and the send-cycle inputs, not the data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part "
    "fast row the agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5% near-duplicates: an earlier document plus one marker token
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    lang_p = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, lang_p),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    """Every input table at scale ``sf``, built from ``GEN_SEED``."""
    rng = np.random.default_rng(GEN_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    nation = np.arange(25, dtype=np.int32)
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nation),
                "n_name": pa.array([f"NATION_{i}" for i in nation]),
                "n_regionkey": pa.array(nation % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array(
                    [f"Customer#{i:09d}" for i in range(n_cust)]
                ),
                "c_nationkey": pa.array(
                    rng.integers(0, 25, n_cust), pa.int32()
                ),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array(
                    [f"Supplier#{i:09d}" for i in range(n_supp)]
                ),
                "s_nationkey": pa.array(
                    rng.integers(0, 25, n_supp), pa.int32()
                ),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": _pick(
                    rng, [f"{a} {b}" for a in ADJ for b in NOUN], n_part
                ),
                "p_brand": _pick(
                    rng, [f"Brand#{i}" for i in range(1, 26)], n_part
                ),
                "p_type": _pick(rng, PTYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900 + (np.arange(n_part) % 1000) / 10, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(0, n_cust, n_ord), pa.int64()
                ),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(
                    _money(rng, 1000.0, 500_000.0, n_ord)
                ),
                "o_orderdate": _ts(
                    _EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US
                ),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(
                    rng.integers(0, n_ord, n_line), pa.int64()
                ),
                "l_partkey": pa.array(
                    rng.integers(0, n_part, n_line), pa.int64()
                ),
                "l_suppkey": pa.array(
                    rng.integers(0, n_supp, n_line), pa.int64()
                ),
                "l_linenumber": pa.array(
                    rng.integers(1, 8, n_line), pa.int32()
                ),
                "l_quantity": pa.array(
                    rng.integers(1, 51, n_line).astype(np.float64)
                ),
                "l_extendedprice": pa.array(
                    _money(rng, 900.0, 105_000.0, n_line)
                ),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _ts(
                    _EPOCH_1995
                    + rng.integers(1, 2500, n_line) * _DAY_US
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_evt), pa.int64()),
                "ts": _ts(
                    _EPOCH_2024
                    + np.cumsum(rng.exponential(26e6, n_evt)).astype(
                        np.int64
                    )
                ),
                "user_id": pa.array(
                    rng.integers(0, max(1, n_cust // 10), n_evt), pa.int64()
                ),
                "event_type": _pick(rng, EVENT_TYPES, n_evt),
                "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]
                ),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }
    return out


def write(sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
