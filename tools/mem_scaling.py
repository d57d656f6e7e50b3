#!/usr/bin/env python3
"""Memory-pressure panel: wall + spill under a deliberately constrained heap.

The one 100 TB axis with zero evidence before r08 (r07 verdict ask #1):
every artifact to date ran with 128 GiB of headroom, while a production
cluster runs ~1-4 GiB/core with data >> RAM.  Spill behavior is exactly
where the GEMM tiles, eager checkpoints, and complete-mode streaming
state would break first — the one sf10 crash in r07 (neighbor_jaccard's
GCLocker death) was memory-shaped.

Method: each (key, sf, heap) runs in its OWN subprocess — a fresh JVM is
the only way to set spark.driver.memory, and per-key isolation means an
OOM kills one measurement, not the panel.  Heaps are interleaved per key
(constrained then control, adjacent in time) so the per-key degradation
ratio is host-drift-resistant.  Spill and GC metrics come from Spark's
own REST status API (spark.ui.enabled=true in the worker, summed
memoryBytesSpilled / diskBytesSpilled across all completed stages +
totalGCTime across executors) — the listener data the verdict asked for,
without the py4j callback server.

Panel: the CORE_SCALING 15 keys at sf1 (4g vs 24g) plus the
GEMM/checkpoint elephants at sf10 (6g vs 24g): semdedup, knn_graph,
neighbor_jaccard, dedup_clusters, pack_sequences, dedup_pipeline_lsh,
and the complete-mode streaming sketch key (stream_cms_freq, whose state
store is bounded by construction — the claim worth testing under a small
heap).

Writes ``MEM_SCALING_r{NN}.json``: per-key wall at each heap, spill MB,
GC seconds, the constrained/control wall ratio, and per-config canaries.

Run from the repo root:  python tools/mem_scaling.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import urllib.request

from keyrun import ROOT, timed, warm, write_round

SF1 = os.path.join(ROOT, ".localdata", "sf1")
SF10 = os.path.join(ROOT, ".localdata", "sf10")

PANEL_SF1 = [
    "projection",
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
    # the ask's extra elephants, exercised at sf1 too
    "neighbor_jaccard",
    "dedup_clusters",
    "pack_sequences",
    "stream_cms_freq",
]
PANEL_SF10 = [
    "semdedup",
    "knn_graph",
    "neighbor_jaccard",
    "dedup_clusters",
    "pack_sequences",
    "dedup_pipeline_lsh",
    # stream_cms_freq only at sf1: .localdata/sf10 has no events replica
]
# (sf_dir, keys, constrained_heap, control_heap)
CONFIGS = [
    (SF1, PANEL_SF1, "4g", "24g"),
    (SF10, PANEL_SF10, "6g", "24g"),
]
TIMEOUT_S = int(os.environ.get("SPARK_GRAFT_MEM_TIMEOUT", "1200"))


def _rest_json(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read())


def _worker(key: str, sf_dir: str, heap: str) -> None:
    """One measurement in a fresh JVM; prints ONE json line on stdout."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    from parquet_merger_spark.queries import QUERIES
    from parquet_merger_spark.session import get_spark

    spark = get_spark(
        f"pm-mem-{key}-{heap}",
        cpus=32,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {"key": key, "heap": heap, "sf_dir": os.path.basename(sf_dir)}
    try:
        warm(spark, sf_dir)
        out["wall_s"] = timed(spark, QUERIES[key], sf_dir)[0]

        ui = spark.sparkContext.uiWebUrl  # e.g. http://host:4040
        app = spark.sparkContext.applicationId
        base = f"{ui}/api/v1/applications/{app}"
        stages = _rest_json(base, "/stages?status=complete")
        out["mem_spill_mb"] = round(
            sum(s.get("memoryBytesSpilled", 0) for s in stages) / 2**20, 1
        )
        out["disk_spill_mb"] = round(
            sum(s.get("diskBytesSpilled", 0) for s in stages) / 2**20, 1
        )
        out["gc_s"] = round(
            sum(e.get("totalGCTime", 0) for e in _rest_json(base, "/executors"))
            / 1000.0,
            1,
        )
        out["n_stages"] = len(stages)
    except Exception as exc:  # recorded, not raised: the panel continues
        out["error"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        try:
            spark.stop()
        except Exception:
            pass
    print("MEMROW " + json.dumps(out), flush=True)


def _run_one(key: str, sf_dir: str, heap: str) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--worker", key, sf_dir, heap]
    try:
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=TIMEOUT_S, cwd=ROOT
        )
    except subprocess.TimeoutExpired:
        return {"key": key, "heap": heap, "error": f"timeout>{TIMEOUT_S}s"}
    for line in proc.stdout.splitlines():
        if line.startswith("MEMROW "):
            return json.loads(line[len("MEMROW "):])
    # JVM death (OOM kill etc.): keep the tail of stderr as evidence
    tail = (proc.stderr or "").strip().splitlines()[-3:]
    return {
        "key": key,
        "heap": heap,
        "error": f"worker died rc={proc.returncode}: " + " | ".join(tail)[:300],
    }


def main() -> None:
    from parquet_merger_spark.session import first_touch_canary_s

    result: dict = {"configs": [], "panel": {}}
    for sf_dir, keys, constrained, control in CONFIGS:
        if not os.path.isdir(sf_dir):
            print(f"SKIP {sf_dir}: not generated (tools/gen_scale_data.py)")
            continue
        label = os.path.basename(sf_dir)
        result["configs"].append(
            {"sf": label, "constrained": constrained, "control": control}
        )
        block = result["panel"].setdefault(label, {})
        canary0 = first_touch_canary_s()
        for key in keys:
            rows = {}
            # constrained first, control immediately after: the per-key
            # ratio is then a same-window comparison
            for heap in (constrained, control):
                row = _run_one(key, sf_dir, heap)
                rows[heap] = {k: v for k, v in row.items() if k not in ("key", "heap", "sf_dir")}
                print(f"{label} {key} @{heap}: {rows[heap]}", flush=True)
            wc = rows[constrained].get("wall_s")
            wk = rows[control].get("wall_s")
            rows["constrained_over_control"] = (
                round(wc / wk, 2) if wc and wk else None
            )
            block[key] = rows
        block["_canary_s"] = {"before": canary0, "after": first_touch_canary_s()}

    print(f"wrote {write_round('MEM_SCALING', result)}")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        _worker(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        main()
