#!/usr/bin/env python3
"""File-count scaling: the axis the reference's workload actually has.

SCALING_r{N} grows ROWS; this panel grows FILES — the reference's core
job is compacting many small parquet files, and at warehouse scale the
pain point is 10k-100k files per batch set, where footer probing and
per-file planning dominate long before row volume does.

Two scenarios, each at N in (256, 1024, 4096) files:

  many_batches: N/2 distinct names x 2 dirs -> N/2 two-file merge plans.
      Measures discovery (scan_folders) + planning (smart_batch = footer
      probes + grouping).  Also times the old SERIAL probe loop on the
      same paths, so the artifact carries the measured concurrent-probe
      speedup, not a claim.
  compaction: ONE name x N dirs -> one N-file plan -> one merged file.
      Measures planning + the merge itself (one distributed scan + one
      coalesced write), with output row-count verified = N x rows/file.

Writes ``FILES_SCALING_r{NN}.json``.  Run: python tools/file_scaling.py
"""

from __future__ import annotations

import os
import shutil
import time

from keyrun import ROOT, write_round

SIZES = tuple(
    int(x)
    for x in os.environ.get("SPARK_GRAFT_FILE_SIZES", "256,1024,4096").split(",")
)
ROWS_PER_FILE = 100
WORK = os.path.join(ROOT, ".localdata", "filescale")


def _build_tree(base: str, n_files: int, n_names: int) -> None:
    """n_files parquet files spread over dirs so that each of n_names
    basenames appears n_files//n_names times (one per dir level).

    Every file gets DISTINCT, incompressible payload rows (seeded hex —
    deterministic): with identical dictionary-compressible rows the
    whole 131k-file corpus packed into ~150 KB, which made every
    multi-file byte target footer-dominated and the size-calibration
    check unsatisfiable by construction.  Probe timings never read data
    pages, so the many_batches numbers are unaffected."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    copies = n_files // n_names
    fid = 0
    for c in range(copies):
        d = os.path.join(base, f"d{c:04d}")
        os.makedirs(d, exist_ok=True)
        for i in range(n_names):
            rng = np.random.default_rng(fid)
            pdf = pd.DataFrame(
                {
                    "k": range(fid * ROWS_PER_FILE, (fid + 1) * ROWS_PER_FILE),
                    "v": rng.random(ROWS_PER_FILE),
                    "s": [
                        "%016x" % int(x)
                        for x in rng.integers(0, 2**63, ROWS_PER_FILE)
                    ],
                }
            )
            fid += 1
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(d, f"part_{i:05d}.parquet"),
            )


def main() -> None:
    from parquet_merger_spark.operators.merge import merge_batches
    from parquet_merger_spark.plans.planner import smart_batch
    from parquet_merger_spark.session import first_touch_canary_s, get_spark
    from parquet_merger_spark.sources.catalog import probe_schema, scan_folders

    spark = get_spark("pm-file-scaling", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 16, 1, 16).mapInPandas(lambda it: it, "id long").count()

    out: dict = {
        "rows_per_file": ROWS_PER_FILE,
        "host_canary_s": {"before": first_touch_canary_s()},
        "many_batches": {},
        "compaction": {},
    }

    for n in SIZES:
        base = os.path.join(WORK, f"mb_{n}")
        shutil.rmtree(base, ignore_errors=True)
        _build_tree(base, n, n_names=n // 2)

        t0 = time.perf_counter()
        entries = scan_folders([base])
        t_scan = time.perf_counter() - t0
        assert len(entries) == n, (len(entries), n)

        t0 = time.perf_counter()
        plans, singles = smart_batch(spark, entries)
        t_plan = time.perf_counter() - t0
        assert len(plans) == n // 2 and singles == 0

        # the pre-fix baseline on the same paths: one serial probe per
        # file.  Skipped above 8192 files — r07 measured 31 MINUTES at
        # 32k files (~57ms/file); re-paying it at 131k (~2h) buys nothing
        paths = [e.full_path for e in entries]
        if n <= 8192:
            t0 = time.perf_counter()
            for p in paths:
                probe_schema(spark, p)
            t_serial = time.perf_counter() - t0
        else:
            t_serial = None

        # the executor-distributed tier, forced (default threshold 8192):
        # higher fixed cost than driver threads at these counts — its
        # regime is 100k-1M files where wall scales with executors
        from parquet_merger_spark.sources.catalog import probe_schemas

        t0 = time.perf_counter()
        probe_schemas(spark, paths, distributed_threshold=2)
        t_dist = time.perf_counter() - t0

        out["many_batches"][str(n)] = {
            "scan_folders_s": round(t_scan, 3),
            "smart_batch_s": round(t_plan, 3),
            "serial_probe_s": round(t_serial, 3) if t_serial else None,
            "distributed_probe_s": round(t_dist, 3),
            "probe_speedup": (
                round(t_serial / max(t_plan, 1e-9), 1) if t_serial else None
            ),
            "n_plans": len(plans),
        }
        print(f"many_batches n={n}: {out['many_batches'][str(n)]}", flush=True)
        shutil.rmtree(base, ignore_errors=True)

    for n in SIZES:
        base = os.path.join(WORK, f"cp_{n}")
        outdir = os.path.join(WORK, f"cp_{n}_out")
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(outdir, ignore_errors=True)
        _build_tree(base, n, n_names=1)

        t0 = time.perf_counter()
        entries = scan_folders([base])
        plans, _ = smart_batch(spark, entries)
        t_plan = time.perf_counter() - t0
        assert len(plans) == 1 and len(plans[0].paths) == n

        t0 = time.perf_counter()
        results = merge_batches(spark, plans, outdir, single_file=True)
        t_merge = time.perf_counter() - t0
        assert results[0].error is None
        assert results[0].rows == n * ROWS_PER_FILE

        out["compaction"][str(n)] = {
            "plan_s": round(t_plan, 3),
            "merge_s": round(t_merge, 3),
            "rows_out": results[0].rows,
        }

        # size-targeted MULTI-file compaction (r07 verdict ask #3): the
        # single-file sink above is reference parity; a 100 TB compaction
        # writes many size-targeted files.  compact_files self-calibrates
        # against measured output bytes (size_tolerance) because the
        # input manifest at this file size is mostly per-file footer
        # overhead; the artifact records how close the output lands.
        import glob as _glob

        from parquet_merger_spark.operators.compaction import compact_files

        # target derived from the MEASURED single-file merge size (the
        # fixture rows are dictionary-compressible to almost nothing, so
        # any fixed byte target can land below one file's data — an
        # unsatisfiable ask); ~12 outputs keeps the 1/(2n) quantization
        # floor (~4%) far inside the 20% tolerance
        single_bytes = os.stat(results[0].output_path).st_size
        tgt = max(16 * 1024, single_bytes // 12)
        sized_dir = os.path.join(WORK, f"cp_{n}_sized")
        shutil.rmtree(sized_dir, ignore_errors=True)
        t0 = time.perf_counter()
        cres = compact_files(
            spark,
            plans[0].paths,
            sized_dir,
            target_bytes=tgt,
            size_tolerance=0.2,
        )
        t_sized = time.perf_counter() - t0
        sizes = sorted(
            os.stat(p).st_size
            for p in _glob.glob(os.path.join(sized_dir, "*.parquet"))
        )
        mean_sz = sum(sizes) / len(sizes)
        rows_sized = spark.read.parquet(sized_dir).count()
        assert rows_sized == n * ROWS_PER_FILE, (rows_sized, n * ROWS_PER_FILE)
        dev = abs(mean_sz - tgt) / tgt
        if len(sizes) >= 3:  # below that the 1/(2n) quantization floor rules
            assert dev <= 0.2, (mean_sz, tgt, dev)
        out["compaction"][str(n)]["sized"] = {
            "target_bytes": tgt,
            "wall_s": round(t_sized, 3),
            "n_passes": cres.n_passes,
            "n_output_files": len(sizes),
            "mean_output_bytes": int(mean_sz),
            "mean_dev_from_target": round(dev, 3),
            "min_output_bytes": sizes[0],
            "max_output_bytes": sizes[-1],
        }
        print(f"compaction n={n}: {out['compaction'][str(n)]}", flush=True)
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(outdir, ignore_errors=True)
        shutil.rmtree(sized_dir, ignore_errors=True)

    out["host_canary_s"]["after"] = first_touch_canary_s()
    out["canary_ok"] = bool(max(out["host_canary_s"].values()) < 1.0)

    print(f"\nwrote {write_round('FILES_SCALING', out)}")


if __name__ == "__main__":
    main()
