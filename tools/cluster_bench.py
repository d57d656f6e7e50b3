#!/usr/bin/env python3
"""Multi-JVM COST datapoint for the elephants (r10 verdict ask #3).

CLUSTER_CORRECTNESS_r09 proved the engine is *correct* on real executor
JVMs; this tool measures what that topology *costs*.  The top-10 most
expensive committed-window keys run at sf0.1 on BOTH masters:

- ``local[32]`` — the committed-bench topology (one JVM, in-process
  shuffle, forked python workers sharing the driver's page cache);
- ``local-cluster[2,16,16384]`` — two real executor JVMs (own heaps,
  block managers, python workers; shuffle and broadcast cross process
  boundaries).

Methodology (memory: host-fault-pathology): variants run as fresh
subprocess sessions INTERLEAVED (local, cluster, local, cluster) so
host drift decorrelates from the variable; per key the artifact keeps
the BEST wall across cycles (drift only ever inflates); every cycle is
bracketed by the first-touch + no-op-stage canaries so the artifact
self-qualifies.  The per-key multiplier cluster/local is the sizing
number a real deployment needs before committing a 100 TB job.

Writes ``CLUSTER_BENCH_r{N}.json`` via keyrun.write_round.

Usage (repo root):

    python tools/cluster_bench.py                  # default keys, 2 cycles
    python tools/cluster_bench.py --cycles 3 --keys semdedup pagerank
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from keyrun import ROOT, cluster_session, timed, warm, write_round

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LOCAL_MASTER = "local[32]"
CLUSTER_MASTER = os.environ.get(
    "SPARK_GRAFT_CLUSTER", "local-cluster[2,16,16384]"
)

# top-10 committed-window elephants (BENCH_local_r09.json, sorted desc;
# INDEXED_PREBUILD keys excluded — their steady state is a separate
# contract)
DEFAULT_KEYS = [
    "semdedup",
    "graph_triangles",
    "dedup_pipeline_lsh",
    "pagerank",
    "dedup_ngram_jaccard_bounded",
    "dedup_minhash_lsh",
    "simsearch_pq",
    "corpus_pipeline",
    "curate_corpus",
    "weighted_median_price",
]


def run_cycle(master: str, keys: list[str]) -> dict:
    """One fresh-session sweep over ``keys``; returns per-key walls +
    canaries.  Subprocess body (one SparkContext per process)."""
    from parquet_merger_spark.queries import QUERIES
    from parquet_merger_spark.session import (
        first_touch_canary_s,
        get_spark,
        pin_oracle_confs,
        stage_latency_canary_s,
    )

    if master.startswith("local["):
        spark = get_spark("pm-cluster-bench", cpus=32)
    else:
        spark = cluster_session(master)
    pin_oracle_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, SF_DIR)

    out: dict = {
        "master": master,
        "canary_before": first_touch_canary_s(),
        "stage_before": stage_latency_canary_s(spark),
        "keys": {},
    }
    for name in keys:
        out["keys"][name] = timed(spark, QUERIES[name], SF_DIR)[0]
    out["canary_after"] = first_touch_canary_s()
    out["stage_after"] = stage_latency_canary_s(spark)
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker-master")
    ap.add_argument("--keys", nargs="*", default=DEFAULT_KEYS)
    ap.add_argument("--cycles", type=int, default=2)
    args = ap.parse_args()

    if args.worker_master:  # subprocess mode: one cycle, JSON on stdout
        res = run_cycle(args.worker_master, args.keys)
        print("CYCLE-JSON:" + json.dumps(res))
        return

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    cycles: list[dict] = []
    for i in range(args.cycles):
        for master in (LOCAL_MASTER, CLUSTER_MASTER):
            print(f"# cycle {i + 1}/{args.cycles} {master} ...", flush=True)
            proc = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--worker-master", master, "--keys", *args.keys,
                ],
                capture_output=True, text=True, timeout=3600, cwd=ROOT,
            )
            line = next(
                (
                    ln for ln in proc.stdout.splitlines()
                    if ln.startswith("CYCLE-JSON:")
                ),
                None,
            )
            if line is None:
                print(f"# cycle FAILED: {proc.stderr[-500:]}", flush=True)
                cycles.append({"master": master, "error": proc.stderr[-500:]})
                continue
            res = json.loads(line[len("CYCLE-JSON:"):])
            cycles.append(res)
            print(
                f"#   total {round(sum(res['keys'].values()), 1)}s  "
                f"canaries {res['canary_before']}/{res['canary_after']} "
                f"stage {res['stage_before']}/{res['stage_after']}",
                flush=True,
            )

    best: dict[str, dict] = {}
    for key in args.keys:
        row: dict = {}
        for master, tag in ((LOCAL_MASTER, "local"), (CLUSTER_MASTER, "cluster")):
            walls = [
                c["keys"][key]
                for c in cycles
                if c.get("master") == master and key in c.get("keys", {})
            ]
            if walls:
                row[f"{tag}_best_s"] = min(walls)
                row[f"{tag}_walls"] = walls
        if "local_best_s" in row and "cluster_best_s" in row:
            row["multiplier"] = round(
                row["cluster_best_s"] / row["local_best_s"], 3
            )
        best[key] = row

    mults = sorted(
        r["multiplier"] for r in best.values() if "multiplier" in r
    )
    artifact = {
        "sf_dir": SF_DIR,
        "local_master": LOCAL_MASTER,
        "cluster_master": CLUSTER_MASTER,
        "methodology": (
            "interleaved fresh-session cycles, best-of per key per "
            "variant, canary-bracketed (memory: host drift decorrelated "
            "by interleaving)"
        ),
        "per_key": best,
        "median_multiplier": (
            mults[len(mults) // 2] if mults else None
        ),
        "cycles": cycles,
    }
    path = write_round("CLUSTER_BENCH", artifact)
    print(f"{path}: median local->cluster multiplier {artifact['median_multiplier']}")


if __name__ == "__main__":
    main()
