#!/usr/bin/env python3
"""Full-coverage local replication of the driver's CORRECTNESS compare.

The driver samples a subset of contract keys per round; this tool runs
EVERY ``queries()`` key at sf0.01 against its ``oracle_sql()`` twin
(row count + schema + order-insensitive canonical value hash — the same
compare ``tests/test_oracle.py`` parameterizes) and writes the result in
the driver's row format to ``CORRECTNESS_local_r{N}.json`` so coverage
is auditable even for keys the driver never sampled.  Rows-only keys
(no oracle) are executed and recorded with ``err: "no_oracle"`` plus
their row count, mirroring the driver's weaker check.

Run from the repo root:  python tools/correctness_local.py [key ...]
Naming keys runs only those — the fast gate while adding keys: their
rows merge into the round's existing ``CORRECTNESS_local_r{N}.json``;
with no such file the run only prints.  Exits nonzero on any failure.
"""

from __future__ import annotations

import os
import sys

from keyrun import write_round

from parquet_merger_spark.oracle import compare_frames, register_views

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def main() -> None:
    import duckdb

    from parquet_merger_spark.queries import ORACLE_SQL, QUERIES
    from parquet_merger_spark.session import get_spark

    only = sys.argv[1:]
    unknown = [k for k in only if k not in QUERIES]
    if unknown:
        sys.exit(f"unknown keys: {unknown}")

    spark = get_spark("pm-correctness-local", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    register_views(con, SF_DIR)

    out: dict[str, dict] = {}
    for name in only or sorted(QUERIES):
        row: dict = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        detail = ""
        try:
            # per-key cache isolation (see keyrun.timed): keeps the
            # sweep's plan-analysis cost flat across 160+ keys
            spark.catalog.clearCache()
            sdf = QUERIES[name](spark, SF_DIR).toPandas()
            row["spark_rows"] = int(len(sdf))
            if name in ORACLE_SQL:
                ddf = con.execute(ORACLE_SQL[name]).df()
                row.update(compare_frames(sdf, ddf))
                if not row["rows_match"]:
                    detail = f" rows {len(sdf)} vs {len(ddf)}"
                elif not row["schema_match"]:
                    detail = f" schema {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
                elif not row["hash_match"]:
                    detail = " value-hash mismatch"
            else:
                row["err"] = "no_oracle"
        except Exception as ex:  # noqa: BLE001 — record, keep sweeping
            row["err"] = f"{type(ex).__name__}: {ex}"[:300]
            detail = f" {row['err']}"
        out[name] = row
        status = (
            "PASS" if row["hash_match"]
            else ("rows-only" if row["err"] == "no_oracle" else "FAIL")
        )
        print(f"{name}: {status} ({row['spark_rows']} rows){detail}", flush=True)

    path = write_round("CORRECTNESS_local", out, subset=bool(only))
    failed = [
        k for k, r in out.items() if not r["hash_match"] and r["err"] != "no_oracle"
    ]
    n_pass = sum(1 for r in out.values() if r["hash_match"])
    n_ro = len(out) - n_pass - len(failed)
    print(f"\n{path}: {n_pass} pass, {n_ro} rows-only, {len(failed)} fail")
    if failed:
        sys.exit(f"FAILED: {failed}")


if __name__ == "__main__":
    main()
