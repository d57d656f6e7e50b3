#!/usr/bin/env python3
"""Multi-JVM correctness sweep on a ``local-cluster`` master (r09 ask #1).

Every prior artifact ran ``local[32]`` — ONE JVM, so executor-side
serialization, block transfer between processes, broadcast distribution,
and the ~20 ``localCheckpoint`` sites (blocks stored on executors,
non-replicated) had zero cross-process evidence.  Spark's
``local-cluster[n,cores,mem_mb]`` master launches REAL executor JVMs
(separate processes with their own heaps, python workers, and block
managers) inside this sandbox — the closest available approximation of a
real cluster's execution boundaries.

This tool re-runs the contract's ``queries()`` keys against their DuckDB
oracles at sf0.01 — the identical compare the driver and
``tools/correctness_local.py`` use — but on a
``local-cluster[2,8,8192]`` session, and writes the driver-format rows
to ``CLUSTER_CORRECTNESS_r{N}.json``.

Usage (repo root):

    python tools/cluster_correctness.py            # all keys
    python tools/cluster_correctness.py key1 key2  # subset
    SPARK_GRAFT_CLUSTER="local-cluster[3,4,6144]" python tools/cluster_correctness.py
"""

from __future__ import annotations

import os
import sys
import time

from keyrun import cluster_session, write_round

from parquet_merger_spark.oracle import compare_frames, register_views

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
MASTER = os.environ.get("SPARK_GRAFT_CLUSTER", "local-cluster[2,8,8192]")


def main() -> None:
    import duckdb

    from parquet_merger_spark.queries import ORACLE_SQL, QUERIES
    from parquet_merger_spark.session import pin_oracle_confs

    only = set(sys.argv[1:])
    # get_spark ships the package to the executors: module-level
    # applyInPandas/mapInPandas kernels pickle by reference
    spark = pin_oracle_confs(cluster_session(MASTER))
    spark.sparkContext.setLogLevel("ERROR")
    # optional: exercise the RELIABLE checkpoint path (barrier.materialize
    # switches every iterative operator's lineage cut from localCheckpoint
    # to FS checkpoint when a dir is set — the executor-loss-safe mode)
    ckpt = os.environ.get("SPARK_GRAFT_RELIABLE_CKPT")
    if ckpt:
        spark.sparkContext.setCheckpointDir(ckpt)
        print(f"# reliable checkpoints -> {ckpt}")
    # the artifact must PROVE multi-JVM execution (cluster_session
    # waits for every executor's block manager; the count includes the
    # driver's)
    n_execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
    print(f"# master={MASTER}  block managers (incl driver)={n_execs}")
    con = duckdb.connect()
    register_views(con, SF_DIR)

    out: dict[str, dict] = {}
    keys = [k for k in sorted(QUERIES) if not only or k in only]
    t_start = time.time()
    for name in keys:
        row: dict = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        t0 = time.time()
        try:
            spark.catalog.clearCache()
            sdf = QUERIES[name](spark, SF_DIR).toPandas()
            row["spark_rows"] = int(len(sdf))
            if name in ORACLE_SQL:
                row.update(compare_frames(sdf, con.execute(ORACLE_SQL[name]).df()))
            else:
                row["err"] = "no_oracle"
        except Exception as ex:  # noqa: BLE001 — record, keep sweeping
            row["err"] = f"{type(ex).__name__}: {ex}"[:300]
        row["sec"] = round(time.time() - t0, 3)
        out[name] = row
        status = (
            "PASS" if row["hash_match"]
            else ("rows-only" if row["err"] == "no_oracle" else "FAIL")
        )
        print(f"{name}: {status} ({row['spark_rows']} rows, {row['sec']}s)",
              flush=True)

    result = {
        "master": MASTER,
        "sf_dir": SF_DIR,
        "block_managers_incl_driver": n_execs,
        "wall_s": round(time.time() - t_start, 1),
        "keys": out,
    }
    path = write_round("CLUSTER_CORRECTNESS", result)
    n_pass = sum(1 for r in out.values() if r["hash_match"])
    n_ro = sum(1 for r in out.values() if r["err"] == "no_oracle")
    n_fail = len(out) - n_pass - n_ro
    print(f"\n{path}: {n_pass} pass, {n_ro} rows-only, {n_fail} fail")
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
