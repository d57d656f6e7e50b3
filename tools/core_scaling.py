#!/usr/bin/env python3
"""Strong-scaling (core-count) panel: wall clock vs local[N] parallelism.

SCALING_r{N} measures how wall grows with DATA at fixed cores (the
100 TB data axis).  This tool measures the other axis of the cluster
story: how wall shrinks with CORES at fixed data (sf0.1) — the proxy
for "does this operator actually use a 1000-executor cluster, or is it
secretly serialized on the driver / a single partition?".  A key whose
wall is flat from local[4] to local[32] is bottlenecked on something
parallelism can't buy: driver-side work, a SinglePartition exchange, a
broadcast build, or fixed scheduling cost.

For each N in (4, 16, 32): a fresh session (master can't change inside
a live SparkContext), the bench warm-up, then each panel key executed
into the noop sink (same timing contract as bench.py), canary-bracketed.
Writes ``CORE_SCALING_r{NN}.json`` with per-key walls, the 4->32
speedup, and parallel efficiency (speedup / core-ratio).

Panel: the scale-critical families (dedup/ANN/graph/corpus) plus one
cheap scan-shaped key as the fixed-cost yardstick — a key's true
parallel speedup is better read AFTER subtracting the yardstick's
fixed scheduling floor, so the artifact records both raw and
floor-adjusted efficiency.

Run from the repo root:  python tools/core_scaling.py
"""

from __future__ import annotations

import os

from keyrun import timed, warm, write_round

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CORES = (4, 16, 32)

PANEL = [
    "projection",           # scan-shaped yardstick: ~pure fixed cost
    "pricing_summary",
    "nation_revenue",
    "window_agg_events",
    "text_tfidf",
    "curate_corpus",
    "corpus_pipeline",
    "dedup_minhash_lsh",
    "dedup_pipeline_lsh",
    "dedup_exact",
    "semdedup",
    "simsearch_topk",
    "knn_graph",
    "pagerank",
    "graph_triangles",
]


def _prefault_inputs() -> None:
    """Pull every panel input file through the page cache once, so the
    FIRST session's first keys don't pay cold-file IO the later sessions
    never see (that asymmetry inflated local[4] walls ~3x on the first
    measured key in the initial sf1 run)."""
    for name in os.listdir(SF_DIR):
        with open(os.path.join(SF_DIR, name), "rb") as fh:
            while fh.read(1 << 24):
                pass


def main() -> None:
    from parquet_merger_spark.queries import QUERIES
    from parquet_merger_spark.session import first_touch_canary_s, get_spark

    reps = int(os.environ.get("SPARK_GRAFT_CORE_REPS", "2"))
    cycles = int(os.environ.get("SPARK_GRAFT_CORE_CYCLES", "2"))
    _prefault_inputs()
    canary_before = first_touch_canary_s()
    walls: dict[str, dict[str, float]] = {
        k: {str(n): float("inf") for n in CORES} for k in PANEL
    }
    session_canary: dict[str, float] = {}
    # CYCLE the core counts (4,16,32, 4,16,32, ...) taking the best wall
    # per (key, cores) across cycles: this host's fault-service latency
    # drifts on ~10-minute timescales (BASELINE.md §3), and a single
    # monotone pass confounds that drift with the core count — the first
    # committed run showed pure scans "slowing down" at 32 cores because
    # the 32-core session happened to run last, in the worst window.
    for cyc in range(cycles):
        for n in CORES:
            spark = get_spark(f"pm-core-scaling-{n}", cpus=n)
            spark.sparkContext.setLogLevel("ERROR")
            warm(spark, SF_DIR)
            for key in PANEL:
                # best-of-reps: drop transient noise
                walls[key][str(n)] = min(
                    walls[key][str(n)],
                    *(timed(spark, QUERIES[key], SF_DIR)[0] for _ in range(reps)),
                )
            spark.stop()
            # per-session canary: a fault-dominated window localizes to
            # the session it hit instead of silently poisoning the artifact
            c = first_touch_canary_s()
            session_canary[f"cycle{cyc}_local{n}"] = c
            print(f"cycle {cyc} local[{n}] done, canary {c}s", flush=True)
    for key in PANEL:
        print(f"{key}: {walls[key]}", flush=True)
    canary_after = c

    lo, hi = str(CORES[0]), str(CORES[-1])
    ratio = CORES[-1] / CORES[0]
    floor_lo, floor_hi = walls["projection"][lo], walls["projection"][hi]
    out: dict[str, dict] = {}
    for key in PANEL:
        w = walls[key]
        speedup = round(w[lo] / w[hi], 2) if w[hi] else None
        adj_lo = w[lo] - floor_lo
        adj_hi = w[hi] - floor_hi
        out[key] = {
            "wall_s": w,
            "speedup_4_to_32": speedup,
            "efficiency": round(speedup / ratio, 2) if speedup else None,
            # fixed-cost floor subtracted (projection's wall at each N):
            # the efficiency of the key's OWN data-parallel work.  None
            # when either adjusted wall is under 50ms — the key IS the
            # floor there and the ratio would be pure noise
            "efficiency_floor_adj": (
                round((adj_lo / adj_hi) / ratio, 2)
                if key != "projection" and min(adj_lo, adj_hi) > 0.05
                else None
            ),
        }

    artifact = {
        "sf_dir": SF_DIR,
        "cores": list(CORES),
        "host_canary_s": {
            "before": canary_before,
            "after": canary_after,
            "per_session": session_canary,
        },
        "canary_ok": bool(
            max(canary_before, *session_canary.values()) < 1.0
        ),
        "keys": out,
    }
    print(f"\n{write_round('CORE_SCALING', artifact)} written")


if __name__ == "__main__":
    main()
