"""Parquet footer statistics and file-level data skipping.

The 100 TB motivation: a filtered scan over a petabyte table should not
open data pages of files that provably contain no matching rows.  Parquet
footers already carry per-row-group min/max/null-count for every column;
reading ONLY footers costs a few KB per file regardless of file size.
This module turns those footers into

* :func:`parquet_footer_stats` — a per-file statistics DataFrame (rows,
  nulls, min, max for one column), computed DISTRIBUTED: the file list is
  parallelized and each executor reads its own footers via pyarrow, so a
  million-file table's stats build is a narrow map stage, not a driver
  loop.  No data pages are touched (asserted in tests by the read volume
  of a stats build vs a data scan).
* :func:`prune_files` / :func:`skipping_scan` — manifest-level pruning:
  keep only files whose [min, max] envelope intersects the predicate
  range, then run a normal distributed scan over the survivors with the
  residual filter applied (exactness does not depend on the stats — a
  file with missing stats is conservatively kept).

This is the same design as engine-internal data skipping (Delta/Iceberg
manifests, Spark's own row-group filter pushdown) surfaced as an operator
so pipelines can prune BEFORE listing costs dominate — e.g. route an
incremental job to the handful of files overlapping its key range.

The reference has no analogue (it reads every registered file fully,
src/main.rs:582-599); this generalizes its footer-only schema probe
(src/main.rs:433-437) from schema to statistics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from parquet_merger_spark.sources.catalog import read_parquet_batch


def _arrow_field_spark_type(path: str, column: str):
    """Spark type of ``column`` probed from one footer (driver-side, cheap)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    field = pq.ParquetFile(path).schema_arrow.field(column)
    return from_arrow_type(field.type)


def parquet_footer_stats(
    spark: SparkSession, paths: list[str], column: str
) -> DataFrame:
    """Per-file statistics for ``column`` from parquet FOOTERS only:
    ``(file, n_rows, n_nulls, vmin, vmax)``.

    ``vmin``/``vmax`` are typed as the column itself (probed from one
    footer).  Files whose writer omitted statistics get null min/max
    (callers must treat null envelopes as "may contain anything");
    ``n_rows`` is always present in the footer.

    Distribution: one input row per file, Arrow-batched ``mapInPandas``,
    each task reads only the footers of its slice — O(KB) per file.
    """
    value_type = _arrow_field_spark_type(paths[0], column)
    out_schema = StructType(
        [
            StructField("file", StringType()),
            StructField("n_rows", LongType()),
            StructField("n_nulls", LongType()),
            StructField("vmin", value_type),
            StructField("vmax", value_type),
        ]
    )

    def footer_batches(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = {"file": [], "n_rows": [], "n_nulls": [], "vmin": [], "vmax": []}
            for path in pdf["file"]:
                md = pq.ParquetFile(path).metadata
                # resolve the column to its parquet LEAF index by
                # path_in_schema: the Arrow TOP-LEVEL field index is not
                # a leaf index once any nested column precedes the
                # target (a struct flattens to one leaf per member, so
                # the offsets diverge and the wrong column's statistics
                # would be read); a file missing the column entirely
                # (schema evolution) gets a null envelope — conservative
                # "may contain anything", never an IndexError
                idx = None
                if md.num_row_groups > 0:
                    rg0 = md.row_group(0)
                    for i in range(rg0.num_columns):
                        if rg0.column(i).path_in_schema == column:
                            idx = i
                            break
                n_rows, n_nulls = md.num_rows, 0
                vmin = vmax = None
                have_all_stats = idx is not None
                for rg in range(md.num_row_groups if idx is not None else 0):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        have_all_stats = False
                        continue
                    n_nulls += st.null_count if st.has_null_count else 0
                    vmin = st.min if vmin is None else min(vmin, st.min)
                    vmax = st.max if vmax is None else max(vmax, st.max)
                if not have_all_stats:
                    vmin = vmax = None
                out["file"].append(path)
                out["n_rows"].append(n_rows)
                out["n_nulls"].append(n_nulls)
                out["vmin"].append(vmin)
                out["vmax"].append(vmax)
            yield pd.DataFrame(out)

    files = spark.createDataFrame([(p,) for p in paths], "file string")
    # one footer is KBs of work: spread files across tasks, don't let
    # Spark pack the whole (tiny) list into one partition
    n_slices = min(len(paths), spark.sparkContext.defaultParallelism)
    return files.repartition(n_slices).mapInPandas(footer_batches, out_schema)


def prune_files(
    stats: DataFrame, lo, hi
) -> list[str]:
    """File paths whose [vmin, vmax] envelope intersects [lo, hi], plus
    every file with a null envelope (no stats => cannot prune).  The
    survivors list is a MANIFEST (file names, not data): collecting it to
    the driver is the same order of work as listing the directory."""
    keep = F.col("vmin").isNull() | F.col("vmax").isNull() | (
        (F.col("vmax") >= F.lit(lo)) & (F.col("vmin") <= F.lit(hi))
    )
    return [r["file"] for r in stats.filter(keep).select("file").collect()]


def skipping_scan(
    spark: SparkSession,
    paths: list[str],
    column: str,
    lo,
    hi,
) -> tuple[DataFrame, list[str]]:
    """Range scan with file-level skipping: prune the manifest by footer
    envelopes, scan only the survivors, re-apply the exact predicate
    (skipping is an optimization, never a semantic change).  Returns
    ``(df, surviving_paths)`` so callers/tests can observe the pruning.

    Equivalent by construction to
    ``read(all_paths).filter(column BETWEEN lo AND hi)``.
    """
    stats = parquet_footer_stats(spark, paths, column)
    kept = prune_files(stats, lo, hi)
    if not kept:
        empty = read_parquet_batch(spark, paths).filter(F.lit(False))
        return empty, []
    df = read_parquet_batch(spark, kept).filter(F.col(column).between(F.lit(lo), F.lit(hi)))
    return df, kept
