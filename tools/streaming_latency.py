#!/usr/bin/env python3
"""Committed streaming-latency artifact (STREAM_LATENCY_r{N}.json).

The 9 stream_* keys are correctness-proven (batch-twin oracles + replay
idempotence) but are excluded from the bench headline by design — their
wall clock is dominated by the replay harness (fixture writes, restarts),
not operator cost.  What IS the operator cost is each micro-batch's
processing latency, which Spark reports per batch in the streaming
progress events.  This tool runs every stream_* key at sf0.01, collects
the per-micro-batch progress captured by ``queries._drain_stream``, and
writes a compact round-over-round diffable JSON:

    {key: {"wall_s": total harness wall,
           "batches": [{"batch_id", "input_rows",
                        "addBatch_ms", "trigger_ms"}, ...],
           "addBatch_ms_total": sum of per-batch processing latency}}

Run from the repo root:  python tools/streaming_latency.py
"""

from __future__ import annotations

import os
import time

from keyrun import write_round

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def main() -> None:
    from parquet_merger_spark import queries as Q
    from parquet_merger_spark.session import (
        first_touch_canary_s,
        get_spark,
        stage_latency_canary_s,
    )

    spark = get_spark("pm-stream-latency", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")

    # the same two-probe canary bracket bench.py uses (r09 ask #7): a
    # latency artifact from a fault-phase window is not comparison-grade
    canary_before = first_touch_canary_s()
    stage_before = stage_latency_canary_s(spark)

    stream_keys = sorted(k for k in Q.QUERIES if k.startswith("stream_"))
    out: dict[str, dict] = {}
    for key in stream_keys:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        # the full action: run the harness AND materialize the result
        # table it returns (the read-back is part of the key's contract)
        n_rows = Q.QUERIES[key](spark, SF_DIR).count()
        wall = round(time.perf_counter() - t0, 3)
        batches = []
        add_total = 0.0
        for p in Q.STREAM_PROGRESS.get(key, []):
            dur = p.get("duration_ms") or {}
            add_ms = dur.get("addBatch")
            batches.append(
                {
                    "batch_id": p.get("batch_id"),
                    "input_rows": p.get("input_rows"),
                    "addBatch_ms": add_ms,
                    "trigger_ms": dur.get("triggerExecution"),
                }
            )
            if add_ms is not None:
                add_total += add_ms
        out[key] = {
            "wall_s": wall,
            "result_rows": n_rows,
            "batches": batches,
            "addBatch_ms_total": round(add_total, 1),
        }
        print(
            f"{key}: wall {wall}s, {len(batches)} micro-batches, "
            f"addBatch total {add_total:.0f}ms",
            flush=True,
        )

    # Partition-count curve for the stream-stream interval join (r09 ask
    # #7).  The r08 decomposition attributed its ~1.2s addBatch to
    # per-partition state-store commit cost on top of the universal
    # micro-batch floor, predicting ~0.74s at 1 state partition.  Since
    # r10 the stateful constructors PIN state_partitions=4 (the measured
    # floor) around start(), so sweeping the session conf no longer moves
    # the curve — the sweep passes state_partitions explicitly through
    # the constructor instead (each run of the key uses a fresh
    # checkpoint dir, so every point picks its own state topology).
    curve: dict[str, dict] = {}
    if "stream_interval_join" in Q.QUERIES:
        import parquet_merger_spark.streaming.events as EV

        orig_correlate = EV.correlate_streams
        try:
            for parts in (1, 2, 4, 8, 16):

                def _pinned(*a, _parts=parts, **kw):
                    kw["state_partitions"] = _parts
                    return orig_correlate(*a, **kw)

                EV.correlate_streams = _pinned
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                Q.QUERIES["stream_interval_join"](spark, SF_DIR).count()
                wall = round(time.perf_counter() - t0, 3)
                prog = Q.STREAM_PROGRESS.get("stream_interval_join", [])
                adds = [
                    (p.get("duration_ms") or {}).get("addBatch")
                    for p in prog
                ]
                adds = [a for a in adds if a is not None]
                curve[str(parts)] = {
                    "wall_s": wall,
                    "n_batches": len(prog),
                    "addBatch_ms_total": round(sum(adds), 1),
                    "addBatch_ms_max": max(adds) if adds else None,
                }
                print(
                    f"interval-join curve: {parts} state partition(s) -> "
                    f"addBatch total {sum(adds):.0f}ms over {len(prog)} "
                    f"batches (wall {wall}s)",
                    flush=True,
                )
        finally:
            EV.correlate_streams = orig_correlate

    result = {
        "host_canary_s": {
            "before": canary_before,
            "after": first_touch_canary_s(),
            "stage_before": stage_before,
            "stage_after": stage_latency_canary_s(spark),
        },
        "keys": out,
        "interval_join_state_partition_curve": curve,
    }
    c = result["host_canary_s"]
    c["canary_ok"] = bool(max(c["before"], c["after"]) < 1.0)
    c["canary_strict_ok"] = bool(
        max(c["before"], c["after"]) < 0.3
        and max(c["stage_before"], c["stage_after"]) < 0.15
    )
    path = write_round("STREAM_LATENCY", result)
    print(f"\nwrote {path} (strict={c['canary_strict_ok']})")


if __name__ == "__main__":
    main()
