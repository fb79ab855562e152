"""Seeded generator for the engine's input tables.

Writes the ten tables the registered queries read (``region`` ...
``embeddings``, one parquet file each) with the schemas and value
distributions of the engine's reference testdata, scaled by a TPC-H
style scale factor. The same (seed, sf) always gives the same bytes.
Also generates the event backlog the ETL catch-up workload lands.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
EVENTS_SPAN_US = 30 * 86_400_000_000
DAY_US = 86_400_000_000
DATE0_US = 788_918_400_000_000  # 1995-01-01T00:00:00


def _n(sf: float, per_unit: int, floor: int = 1) -> int:
    return max(floor, int(round(per_unit * sf)))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def events_table(rng: np.random.Generator, n: int, n_users: int, first_id: int = 0) -> pa.Table:
    """``n`` events in timestamp order over a 30-day window."""
    ts = np.sort(EVENTS_T0_US + rng.integers(0, EVENTS_SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    # 5% near-duplicates: an earlier original document with one token appended
    is_dup = rng.random(n) < 0.05
    is_dup[0] = False
    originals = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        earlier = originals[: np.searchsorted(originals, i)]
        texts[i] = texts[int(earlier[rng.integers(0, len(earlier))])] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for (seed, sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = _n(sf, 150_000), _n(sf, 10_000)
    n_part, n_ord, n_line = _n(sf, 200_000), _n(sf, 1_500_000), _n(sf, 6_000_000)
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _ts(DATE0_US + rng.integers(0, 2404, n_ord) * DAY_US),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _ts(DATE0_US + rng.integers(1, 2499, n_line) * DAY_US),
            }
        ),
        "events": events_table(rng, _n(sf, 1_000_000), _n(sf, 15_000)),
        "documents": _documents(rng, _n(sf, 50_000, floor=500)),
        "embeddings": _embeddings(rng, _n(sf, 20_000, floor=500)),
    }
    return out


def write_tables(seed: int, sf: float, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
