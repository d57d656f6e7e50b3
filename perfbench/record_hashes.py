#!/usr/bin/env python3
"""Record the output hashes of the benchmark's query keys that have no
SQL oracle (approximate keys such as MinHash-LSH or PQ search) into
``expected_hashes.json``.

    python3 perfbench/record_hashes.py

Run it on the commit whose outputs are the reference, from the root of a
source checkout.  Those keys read only the documents and embeddings
tables, which are drawn from the fixed ``TEXT_SEED``, so the hashes hold
for every ``--seed``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    import run
    import workloads
    from datagen import write_tables

    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    try:
        run.prepare_env(work, len(os.sched_getaffinity(0)))
        from parquet_merger_spark.oracle import canon_hash
        from parquet_merger_spark.queries import ORACLE_SQL, QUERIES
        from parquet_merger_spark.session import get_spark

        data = os.path.join(work, "data")
        write_tables(data, workloads.TABLE_SF, 0, workloads.TEXT_SEED)
        spark = get_spark("perfbench-record")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            hashes = {
                k: canon_hash(QUERIES[k](spark, data).toPandas())
                for k in sorted(workloads.QUERY_KEYS)
                if k not in ORACLE_SQL
            }
        finally:
            spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    with open(os.path.join(HERE, "expected_hashes.json"), "w") as fh:
        json.dump(hashes, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(json.dumps(hashes, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
