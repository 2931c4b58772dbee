"""Synthetic fixture for the benchmark: the ten tables of FIXTURES.md.

The table contents come from a fixed generator seed, so every run of a
workload sees the same data; the run's ``--seed`` only permutes row order
inside each table. Sizes follow the repository's scale-factor convention
(``lineitem`` = 6M x sf rows, ``documents``/``embeddings`` 500 rows up to
sf0.01). ``replicate`` makes a key-shifted xN copy of ``orders`` and
``lineitem`` so foreign keys still match.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green",
            "bright", "dark", "light", "heavy", "thin"]
PART_NOUN = ["ring", "bolt", "anvil", "plate", "gear", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join batch sort value hash filter big data dup "
         "spark line small fast group customer").split()

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _days(rng, n: int, first: tuple, last: tuple) -> pa.Array:
    lo, hi = _epoch_us(*first), _epoch_us(*last)
    days = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    return pa.array(lo + days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        if texts and rng.random() < 0.2:
            # Near-duplicate of an earlier document: a few words swapped.
            words = texts[rng.integers(0, len(texts))].split()
            for pos in rng.integers(0, len(words), 3):
                words[pos] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 90))]
        texts.append(" ".join(words))
    for i in range(0, n, max(n // 8, 1))[1:]:
        texts[i] = texts[i - 1]  # a few exact duplicates
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(n + 1) * 64, pa.int32()), flat),
        "label": pa.array(labels, pa.int32()),
    })


def tables(sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf``, in canonical row order."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    keys = np.arange
    return {
        "region": pa.table({
            "r_regionkey": pa.array(keys(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(keys(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(keys(25) % 5, pa.int32()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(keys(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(keys(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(keys(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (keys(n_part) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(keys(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
        }),
        "events": pa.table({
            "event_id": pa.array(keys(n_evt), pa.int64()),
            "ts": pa.array(np.sort(rng.integers(
                _epoch_us(2024, 1, 1), _epoch_us(2024, 1, 31), n_evt)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_evt), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt)),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def replicate(tabs: dict[str, pa.Table], copies: int) -> dict[str, pa.Table]:
    """``copies`` key-shifted copies of ``orders`` and ``lineitem``: copy c
    adds c x (max(o_orderkey) + 1) to ``o_orderkey`` and ``l_orderkey``, so
    every line still joins to exactly one order. Other tables pass through."""
    out = dict(tabs)
    shift = pc.max(tabs["orders"]["o_orderkey"]).as_py() + 1
    for name, col in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        t = tabs[name]
        i = t.schema.get_field_index(col)
        out[name] = pa.concat_tables([
            t.set_column(i, col, pc.add(t[col], pa.scalar(c * shift, pa.int64())))
            for c in range(copies)
        ])
    return out


def write(out_dir: str, sf: float, seed: int, copies: int = 1) -> str:
    """Write the fixture with row order permuted by ``seed``; return a
    sha256 fingerprint over the written files."""
    tabs = replicate(tables(sf), copies)
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    for name in sorted(tabs):
        t = tabs[name]
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()

