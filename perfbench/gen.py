"""Seeded input generation for the benchmark workloads.

Everything the program reads is written here, from ``--seed``, into the
benchmark's scratch directory; the program only ever sees the files.

- ``write_diary``: one nested training-diary JSON document, built by the
  package's own ``build_diary_doc`` (the shape the reference ingests).
- ``write_tables``: the ten registry tables (TPC-H-like star schema plus
  events, documents and embeddings) with the column names, types and
  value ranges of the registry's test data, scaled by ``sf``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from training_datawarehouse_spark.sources.diary_fixture import build_diary_doc


def write_diary(path: str, n_days: int, seed: int) -> int:
    """Write a seeded diary of ``n_days`` days; returns its size in bytes."""
    payload = json.dumps(build_diary_doc(n_days, seed))
    with open(path, "w") as f:
        f.write(payload)
    return len(payload)


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "cold", "large", "hot", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil", "plate"]
_PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "the stream query row fast small spark group customer line sort hash "
    "batch dup data filter value big key order table scan merge part window "
    "join slow agg column a vector"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def build_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """The registry tables at scale factor ``sf``. Row counts depend on
    ``sf`` only, never on ``seed`` (sf0.001: 9 890 rows in all, of which
    1 500 orders, 6 000 lineitems, 1 000 events, 500 documents and 500
    embeddings)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_evt = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS,
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part),
                                             rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 1),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })

    n_line = 4 * n_ord
    l_orderkey = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    first = np.searchsorted(l_orderkey, l_orderkey, side="left")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": (np.arange(n_line) - first + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })

    offsets_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_evt))
    events = pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_evt // 66, 15), n_evt).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": _money(rng, 0.01, 330.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })

    texts = [" ".join(rng.choice(_VOCAB, k)) for k in rng.integers(10, 100, n_doc)]
    documents = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 1.5 * rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })

    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(sf_dir: str, sf: float, seed: int) -> int:
    """Write the registry tables as ``<sf_dir>/<name>.parquet``; returns
    the total row count written."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, df in build_tables(sf, seed).items():
        df.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)
        total += len(df)
    return total
