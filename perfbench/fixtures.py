"""Seeded synthetic fixture tables for the benchmark.

Writes the ten tables the registry queries read (``region`` ...
``embeddings``), one parquet file each, with the column names and types
(timestamps in microseconds) of the repository's test fixtures
(TESTDATA.md). Columns are drawn independently; compared with the test
fixtures at sf0.1 and sf0.01, row counts match and each column's min, max
and distinct count match within 0.2 %, and the queries the benchmark runs
have the same plan shapes and pass their oracle checks on both (see
``README.md``).

Row counts scale with the scale factor ``sf``: lineitem has ``6e6 * sf``
rows, orders ``1.5e6 * sf`` and so on; documents and embeddings never go
below 500 rows.

The generator is deterministic for a given ``(sf, seed)``. ``ensure``
writes the tables once into a cache directory and reuses them on later
runs; a marker file written last says the directory is complete.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _ts_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: int, span_days: int, n: int) -> pa.Array:
    us = start + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]) for _ in range(n)]
    # near-duplicates (one word swapped for "dup") for the MinHash family,
    # and a few exact copies for exact dedup
    for i in rng.choice(n, max(1, n // 40), replace=False):
        toks = texts[int(rng.integers(0, n))].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    for i in rng.choice(n, max(2, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n, 64)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32)), flat)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(labels),
        }
    )


def generate(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """All fixture tables for scale factor ``sf``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = np.int32
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": pa.array(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, _STATUS, n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, _ts_us(1995, 1, 1), 2405, n_ord),
            "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, _ts_us(1995, 1, 2), 2499, n_line),
        }
    )
    ts = np.sort(_ts_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt)),
            "event_type": _pick(rng, _EVENT_TYPES, n_evt),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def ensure(cache_root: str, sf: float, seed: int = 42) -> str:
    """Directory holding the fixture parquet files for ``sf``; generated
    on first use and reused while its marker matches."""
    out = os.path.join(cache_root, f"sf{sf:g}-seed{seed}")
    marker = os.path.join(out, "_COMPLETE")
    want = {"generator": GENERATOR_VERSION, "sf": sf, "seed": seed}
    if os.path.exists(marker):
        with open(marker) as fh:
            if json.load(fh) == want:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as fh:
        json.dump(want, fh)
    return out


def total_bytes(sf_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
