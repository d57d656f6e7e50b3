"""Shared cross-engine comparison canonicalization.

One implementation of the driver-style compare used by BOTH the local
test suite (`tests/test_oracle.py`) and the committed full-coverage
sweep (`tools/correctness_local.py`) — the two must never drift, or the
committed CORRECTNESS artifact and the suite could disagree about the
same query output.  ``compare_frames`` is the one compare row every
tool records.

Rules (mirroring the driver): columns sorted by name, rows sorted, cells
rendered as strings with NULL/NaN collapsed to one token, floats in a
fixed format (integral floats as ``%.6f`` so ``3`` and ``3.0`` compare
equal across engines, others via ``%.10g``), timestamps as ISO strings.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        if math.isinf(v):
            # int(inf) raises OverflowError: a legitimately infinite
            # cell (zero-denominator ratio) must canonicalize, not turn
            # the whole key into a FAIL row
            return f"{v:.10g}"
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.10g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(
        tuple(canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def canon_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for r in canon_rows(df):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare_frames(sdf: pd.DataFrame, ddf: pd.DataFrame) -> dict:
    """One key's compare row against its oracle: row count, column set,
    then the canonical value hash (checked only when both of those
    match)."""
    rows_match = len(sdf) == len(ddf)
    schema_match = sorted(sdf.columns) == sorted(ddf.columns)
    return {
        "rows_match": rows_match,
        "schema_match": schema_match,
        "hash_match": (
            rows_match and schema_match and canon_hash(sdf) == canon_hash(ddf)
        ),
        "spark_rows": int(len(sdf)),
        "oracle_rows": int(len(ddf)),
    }


def register_views(con, sf_dir: str) -> None:
    """Create one DuckDB view per fixture table over ``sf_dir``."""
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def next_round(root: str) -> int:
    """Round number for locally-produced artifacts: one past the newest
    round visible in ``root`` — considering the DRIVER correctness
    artifacts (``CORRECTNESS_r{N}.json``) AND the committed local
    artifacts (``CORRECTNESS_local_r{N}.json`` / ``PLANS_r{N}.json``),
    so a fresh clone where the driver files happen to be absent still
    numbers past the committed history instead of restarting at r01.
    (``bench.py`` keeps its own refresh-in-place variant deliberately:
    it also refreshes the current round's local artifact before the next
    driver round lands.)"""
    import os
    import re

    files = os.listdir(root)
    driver = [
        int(m.group(1))
        for f in files
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", f))
    ]
    local = [
        int(m.group(1))
        for f in files
        if (m := re.match(r"(?:CORRECTNESS_local_r|PLANS_r)(\d+)\.json$", f))
    ]
    if not driver:
        # fresh clone with no driver artifacts: we cannot know whether
        # the newest committed local round is still open — number PAST
        # it (as the docstring promises) instead of overwriting it
        return (max(local) + 1) if local else 1
    nxt = max(driver) + 1
    if local and max(local) >= nxt:
        # the newest local artifact has no driver twin yet: this run
        # belongs to the SAME round — refresh that artifact in place
        nxt = max(local)
    return nxt
