#!/usr/bin/env python3
"""Time a SUBSET of contract keys with bench.py's exact methodology
(clearCache between keys, build+noop-sink inside the timed window) —
the fast feedback loop while optimizing one operator, before the full
sweep re-run.

Usage:  python tools/bench_subset.py [-n REPS] key1 key2 ...

Prints per-key times for every rep plus min/median; the full bench's
number for a key is comparable to a single rep here (same session
shape, same sf dir, same sink).  REPS > 1 shows warm-cache steady state
AND run-to-run variance, which the one-shot sweep cannot.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

from keyrun import timed, warm

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--reps", type=int, default=3)
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    from parquet_merger_spark.queries import QUERIES
    from parquet_merger_spark.session import get_spark

    unknown = [k for k in args.keys if k not in QUERIES]
    if unknown:
        sys.exit(f"unknown keys: {unknown}")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("pm-bench-subset", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    warm(spark, SF_DIR)

    for name in args.keys:
        times = [timed(spark, QUERIES[name], SF_DIR)[0] for _ in range(args.reps)]
        print(
            f"{name}: min={min(times):.3f} median={statistics.median(times):.3f} "
            f"reps={times}",
            flush=True,
        )


if __name__ == "__main__":
    main()
