#!/usr/bin/env python3
"""Partition-perturbation determinism sweep over every contract key.

The DuckDB differential proves Spark-vs-oracle agreement under ONE
physical configuration.  It cannot see a whole class of Spark-specific
bugs: results that silently depend on partitioning — float aggregation
order, under-ordered window ties, ``limit``/``first``/``any_value``
without a total order, driver-side sampling that follows scan order.
Those keys would pass every oracle run and still return different
answers on a real cluster (where partitioning is never the same twice).

This tool runs EVERY ``queries()`` key (including the 16 rows-only keys
the oracle can't check at all) under two deliberately different
physical profiles in the same session:

  A: shuffle.partitions=32, AQE on,  maxPartitionBytes=128m (canonical)
  B: shuffle.partitions=7,  AQE off, maxPartitionBytes=1m   (adversarial:
     prime shuffle fan-out, no runtime coalesce, many tiny input splits
     so scan/task order is maximally perturbed)

and compares the driver-style canonical value hash (same
``oracle.canon_hash`` the correctness gate uses, 10-significant-digit
float rendering — structural nondeterminism fails, benign FP reorder
noise at digit 15 does not).  Output: ``DETERMINISM_r{N}.json`` with
one row per key; exit 1 on any mismatch.

Run from the repo root:  python tools/determinism_sweep.py [key ...]
Naming keys runs only those (triage): their rows merge into the round's
existing ``DETERMINISM_r{N}.json``; with no such file the run only
prints, so a subset never stands in for the full sweep.
"""

from __future__ import annotations

import os
import sys

from keyrun import write_round

from parquet_merger_spark.oracle import canon_hash

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

PROFILES = {
    "a": {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "134217728",
    },
    "b": {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "1048576",
    },
}


def main() -> None:
    from parquet_merger_spark.queries import QUERIES
    from parquet_merger_spark.session import get_spark

    only = set(sys.argv[1:])  # optional key subset for triage re-runs
    spark = get_spark("pm-determinism", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    n_mismatch = 0
    for name in sorted(QUERIES):
        if only and name not in only:
            continue
        row: dict = {"match": None, "rows": {}, "hash": {}, "err": None}
        try:
            for prof, confs in PROFILES.items():
                for k, v in confs.items():
                    spark.conf.set(k, v)
                spark.catalog.clearCache()
                pdf = QUERIES[name](spark, SF_DIR).toPandas()
                row["rows"][prof] = int(len(pdf))
                row["hash"][prof] = canon_hash(pdf)
            row["match"] = (
                row["hash"]["a"] == row["hash"]["b"]
                and row["rows"]["a"] == row["rows"]["b"]
            )
        except Exception as ex:  # noqa: BLE001 — record, keep sweeping
            row["err"] = f"{type(ex).__name__}: {ex}"[:300]
        finally:
            # never leak profile B's confs into the next key's profile A
            for k, v in PROFILES["a"].items():
                spark.conf.set(k, v)
        out[name] = row
        if row["match"] is False or row["err"]:
            n_mismatch += 1
        status = "OK" if row["match"] else ("ERR" if row["err"] else "MISMATCH")
        print(f"{name}: {status} ({row['rows']})", flush=True)

    path = write_round("DETERMINISM", out, subset=bool(only))
    n_ok = sum(1 for r in out.values() if r["match"])
    print(f"\n{path}: {n_ok} deterministic, {len(out) - n_ok} flagged")
    if n_mismatch:
        sys.exit(1)


if __name__ == "__main__":
    main()
