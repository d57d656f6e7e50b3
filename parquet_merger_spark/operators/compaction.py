"""Small-file compaction: rewrite many undersized parquet files into few
target-sized ones.

The 100 TB problem this solves: streaming ingests, per-task sinks, and
incremental upserts leave tables as millions of KB-scale files.  Every
query then pays per-file costs (footer reads, task scheduling, object
store GETs) that dwarf the data itself — the canonical fix is a periodic
compaction pass (Delta OPTIMIZE, Iceberg rewrite_data_files).  This is
also the purest "merge" in the reference's sense — same rows, fewer
files — generalized from its one-file-at-a-time loop
(/root/reference/src/main.rs:582-599 + coalesced single output :601) to
a distributed rewrite with a byte-size target instead of a hardcoded
single file.

Sizing comes from the MANIFEST (file sizes via os.stat — metadata, not
data): ``n_out = ceil(total_bytes / target_bytes)``, then one
distributed read → repartition(n_out) → parallel write.  Two modes:

* ``shuffle=True`` (default): round-robin repartition — one shuffle,
  but output files are evenly sized regardless of input skew.  Right
  when compaction runs rarely and read-side balance matters.
* ``shuffle=False``: ``coalesce(n_out)`` — zero shuffle (tasks just
  concatenate co-located inputs), output sizes follow input locality.
  Right for huge compactions where the shuffle would dominate.

Compaction never changes content: the result is the same row multiset
(checked by the round-trip test and the oracle-backed driver query).
"""

from __future__ import annotations

import glob
import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from parquet_merger_spark.sources.catalog import read_parquet_batch


@dataclass(frozen=True)
class CompactionResult:
    out_dir: str
    n_input_files: int
    n_output_files: int
    input_bytes: int
    output_bytes: int
    n_passes: int = 1


def plan_compaction(paths: list[str], target_bytes: int) -> int:
    """Number of output files for ``paths``: ceil(total_bytes / target).

    Pure manifest math (os.stat sizes).  At object-store scale the same
    sizes come from the listing, so this stays a metadata operation."""
    total = sum(os.stat(p).st_size for p in paths)
    return max(1, math.ceil(total / target_bytes))


def cluster_write(
    df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    n_files: int,
    compression: str | None = None,
) -> list[str]:
    """Write ``df`` range-clustered on ``key_cols``: repartitionByRange
    (a sampled range shuffle — each output file owns a contiguous,
    non-overlapping key slice) + sortWithinPartitions (rows ordered
    inside each file, so row-group min/max envelopes are tight too).

    This is the LAYOUT PRODUCER for :mod:`sources.stats` data skipping:
    after cluster_write, a range predicate prunes to the few files whose
    envelope overlaps it (file level via ``skipping_scan``, row-group
    level via Spark's own parquet filter pushdown) — the Delta
    OPTIMIZE-ZORDER idea reduced to its single-key linear form, which is
    all plain range predicates need.  Returns the written file paths."""
    (
        df.repartitionByRange(n_files, *key_cols)
        .sortWithinPartitions(*key_cols)
        .write.mode("overwrite")
        .options(**({"compression": compression} if compression else {}))
        .parquet(out_dir)
    )
    return sorted(glob.glob(os.path.join(out_dir, "*.parquet")))


def minmax_scale_to_int(col, lo: float, hi: float, bits: int = 16):
    """Scale a numeric column to an integer in [0, 2^bits): the
    rank-space normalization z-ordering interleaves.  Values are clamped
    to [lo, hi] first (outliers saturate the edge cells rather than
    shifting every other value's cell)."""
    from pyspark.sql import functions as F

    span = hi - lo
    clamped = F.least(F.greatest(col, F.lit(lo)), F.lit(hi))
    return F.floor(
        (clamped - F.lit(lo)) / F.lit(span) * F.lit((1 << bits) - 1)
    ).cast("long")


def zorder_key(int_cols: list, bits: int = 16):
    """Morton (Z-order) key: interleave the bits of k pre-scaled integer
    columns so bit b of column j lands at position ``b*k + j``.  Rows
    close in EVERY dimension get close z-values, so range-clustering by
    the z-key gives each output file a small hyper-rectangle of the key
    space — and footer min/max envelopes prune on ANY of the interleaved
    columns, not just the first sort key (the multi-dimension data-
    skipping trick linear sort order can't do; same idea as Delta
    OPTIMIZE ZORDER BY).

    Pure bit arithmetic — ``k * bits`` shift/mask/or terms, all inside
    whole-stage codegen; no UDF, no shuffle.  ``k * bits`` must be ≤ 63
    (the result is one signed long)."""
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    k = len(int_cols)
    if k * bits > 63:
        raise ValueError(f"z-key must fit a signed long: {k} cols x {bits} bits")
    terms = [
        F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * k + j)
        for j, c in enumerate(int_cols)
        for b in range(bits)
    ]
    return _reduce(lambda a, t: a.bitwiseOR(t), terms)


def zorder_write(
    df: DataFrame,
    out_dir: str,
    col_ranges: dict[str, tuple[float, float]],
    n_files: int,
    bits: int = 16,
) -> list[str]:
    """Write ``df`` Z-ORDER clustered on the columns of ``col_ranges``
    (each mapped to its clamp range): scale each column into rank space,
    interleave into a Morton key, range-cluster the output on that key,
    and drop the key from the files.  After this layout, a range
    predicate on ANY of the z-ordered columns prunes files via
    :func:`sources.stats.skipping_scan` (effectiveness asserted
    per-dimension in tests/test_stats.py)."""
    from pyspark.sql import functions as F

    ints = [
        minmax_scale_to_int(F.col(c), lo, hi, bits)
        for c, (lo, hi) in col_ranges.items()
    ]
    keyed = df.withColumn("__z", zorder_key(ints, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return sorted(glob.glob(os.path.join(out_dir, "*.parquet")))


def compact_files(
    spark: SparkSession,
    paths: list[str],
    out_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = True,
    compression: str | None = None,
    size_tolerance: float | None = None,
) -> CompactionResult:
    """Rewrite ``paths`` into ``ceil(total_bytes/target_bytes)`` files
    under ``out_dir``.  One distributed scan, one (optional) shuffle,
    one parallel write — no driver-side data movement.

    ``size_tolerance`` (e.g. ``0.2``) opts into OUTPUT-size calibration:
    the manifest-based file count is systematically high for small-file
    inputs (each tiny input pays a ~KB footer the compacted output
    amortizes away — at 131k files the input manifest overstates the
    data bytes several-fold), so when the mean output size misses the
    target by more than the tolerance, a second pass re-slices the
    PASS-1 OUTPUT (reading the few compacted files, never the original
    many) with ``n = round(measured_output_bytes / target)``.  One
    correction converges: the compressed size is then known, and the
    residual is row-order encoding noise plus the 1/(2n) quantization
    floor.  A production deployment would persist the learned
    bytes-per-row ratio per table and apply it at pass 1; recalibration
    here is the bootstrap for first contact with a table."""
    n_out = plan_compaction(paths, target_bytes)
    df = read_parquet_batch(spark, paths)
    df = df.repartition(n_out) if shuffle else df.coalesce(n_out)
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.parquet(out_dir)
    out_files = glob.glob(os.path.join(out_dir, "*.parquet"))
    n_passes = 1

    if size_tolerance is not None and out_files:
        out_total = sum(os.stat(p).st_size for p in out_files)
        mean = out_total / len(out_files)
        n_ideal = max(1, round(out_total / target_bytes))
        if (
            abs(mean - target_bytes) > size_tolerance * target_bytes
            and n_ideal != len(out_files)
        ):
            import shutil

            tmp = out_dir + "._recalib"
            try:
                redo = spark.read.parquet(out_dir).repartition(
                    n_ideal
                ).write.mode("overwrite")
                if compression:
                    redo = redo.option("compression", compression)
                redo.parquet(tmp)
            except BaseException:
                # failed pass 2 must not orphan ._recalib next to an
                # intact pass-1 output
                shutil.rmtree(tmp, ignore_errors=True)
                raise
            # swap via two renames (each atomic), never rmtree-then-rename:
            # a crash between those would lose the output entirely.  After
            # the aside-rename, the worst crash window leaves pass-1 output
            # at *.old and pass-2 at ._recalib — both recoverable.
            old = out_dir + "._old"
            shutil.rmtree(old, ignore_errors=True)
            os.rename(out_dir, old)
            os.rename(tmp, out_dir)
            shutil.rmtree(old)
            out_files = glob.glob(os.path.join(out_dir, "*.parquet"))
            n_passes = 2

    return CompactionResult(
        out_dir=out_dir,
        n_input_files=len(paths),
        n_output_files=len(out_files),
        input_bytes=sum(os.stat(p).st_size for p in paths),
        output_bytes=sum(os.stat(p).st_size for p in out_files),
        n_passes=n_passes,
    )
