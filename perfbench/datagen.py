"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` - the ten fixture tables the query registry reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the same column names and Parquet types as
  the engine's test fixtures, at a chosen scale factor.  Columns are drawn
  independently and uniformly, which is how the fixtures are built; the
  documents table carries the same share of near-duplicate texts and the
  embeddings table the same weak label clustering.
* ``write_merge_tree`` - a folder tree of small Parquet files for the
  scan -> smart-batch -> merge workflow, plus a manifest describing the
  expected outcome of every batch (rows, output columns, row order).

Everything is a pure function of its seed: same seed, same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400 * 1_000_000


def _dates(rng, n: int, start: str, end: str) -> pa.Array:
    lo = pd.Timestamp(start).value // 1000
    days = (pd.Timestamp(end).value // 1000 - lo) // _DAY_US
    us = lo + rng.integers(0, days + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def write_tables(out_dir: str, sf: float, seed: int, text_seed: int) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; returns rows per table.

    ``text_seed`` alone draws the documents and embeddings tables, so they
    can stay fixed while ``seed`` varies the others."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_vecs = int(50_000 * sf)
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    t0 = pd.Timestamp("2024-01-01").value // 1000
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, n_evt))
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    rng = np.random.default_rng(text_seed)
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: same text plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 96)))))
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return rows


# Shape of the merge tree: NAMES x DIRS files of ROWS rows, plus
# SINGLETONS one-off names.
NAMES = 10
DIRS = 4
ROWS = 1000
SINGLETONS = 12


def write_merge_tree(root: str, seed: int) -> dict:
    """Write ``NAMES`` x ``DIRS`` small Parquet files plus ``SINGLETONS``
    one-off names under ``root``; return the manifest.

    Every 4th name (by shuffled rank) drifts: odd dirs carry an extra
    column, so its batch merges the column intersection.  Every 16th name
    is written with nanosecond timestamps (pandas' default unit), which
    the engine cannot read.  The ``seq`` column rises along the reference
    output order (files in sorted-path order, rows in file order), so a
    merged file's row order can be checked without the inputs.
    """
    rng = np.random.default_rng(seed)
    stems = [f"part_{i:03d}_{int(rng.integers(0, 1 << 20)):05x}" for i in range(NAMES)]
    order = rng.permutation(NAMES)
    drift = {stems[i] for i in order[0::4]}
    nanos = {stems[i] for i in order[1::16]}
    batches = {}
    for stem in stems:
        files = [os.path.join(root, f"d{d:02d}", f"{stem}.parquet") for d in range(DIRS)]
        files.sort()
        cols = ["seq", "grp", "amount", "label", "ts"]
        for f_idx, path in enumerate(files):
            data = {
                "seq": np.arange(ROWS, dtype=np.int64) + f_idx * 10_000_000,
                "grp": rng.integers(0, 50, ROWS).astype(np.int32),
                "amount": np.round(rng.uniform(0, 1000, ROWS), 2),
                "label": rng.choice(["alpha", "beta", "gamma", "delta"], ROWS),
            }
            base = pd.Timestamp("2024-01-01").value // 1000
            us = base + rng.integers(0, 365 * _DAY_US, ROWS)
            unit = "ns" if stem in nanos else "us"
            data["ts"] = pa.array(us * (1000 if unit == "ns" else 1), pa.timestamp(unit))
            if stem in drift and f_idx % 2 == 1:
                data["extra"] = rng.integers(0, 9, ROWS).astype(np.int16)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(pa.table(data), path)
        batches[stem] = {
            "files": files,
            "rows": [ROWS] * DIRS,
            "columns": cols,
            "mismatch": stem in drift,
            "fails": stem in nanos,
        }
    for i in range(SINGLETONS):
        path = os.path.join(root, f"d{i % DIRS:02d}", f"single_{i:03d}.parquet")
        n = int(rng.integers(10, 100))
        pq.write_table(pa.table({"seq": np.arange(n, dtype=np.int64)}), path)
    return {"batches": batches, "singletons": SINGLETONS}
