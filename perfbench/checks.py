"""Output checks.  All of them run outside the timed window."""

from __future__ import annotations

import csv
import os

import pyarrow.parquet as pq


def check_query(got, want: str | None, source: str) -> str | None:
    """Check a query's collected output (a pandas frame) against the
    expected ``oracle.canon_hash`` - the engine's cross-engine compare,
    which the repository's correctness suite uses too.  ``source`` names
    where ``want`` came from; ``want`` None means there is nothing to
    compare with, which fails."""
    from parquet_merger_spark.oracle import canon_hash

    if want is None:
        return f"no expected hash from the {source}"
    if canon_hash(got) != want:
        return f"output hash differs from the {source}"
    return None


def check_batch(result, spec: dict) -> str | None:
    """Check one merged batch against its manifest entry; return the
    first problem found, or None when the output is right.

    Checks: the batch succeeded; the Parquet file holds the summed input
    rows, exactly the expected columns in order, with ``seq`` strictly
    rising (the reference row order: files in path order, rows in file
    order); the CSV has the same header and row count."""
    if not result.ok:
        return f"batch failed: {result.error}"
    want_rows = sum(spec["rows"])
    if result.rows != want_rows:
        return f"reported {result.rows} rows, expected {want_rows}"
    table = pq.read_table(result.output_path)
    if table.column_names != spec["columns"]:
        return f"columns {table.column_names}, expected {spec['columns']}"
    if table.num_rows != want_rows:
        return f"file holds {table.num_rows} rows, expected {want_rows}"
    seq = table.column("seq").to_numpy()
    if len(seq) > 1 and not (seq[1:] > seq[:-1]).all():
        return "rows out of reference order"
    csv_path = os.path.splitext(result.output_path)[0] + ".csv"
    with open(csv_path, newline="") as fh:
        reader = csv.reader(fh)
        header = next(reader, None)
        n = sum(1 for _ in reader)
    if header != spec["columns"]:
        return f"csv header {header}, expected {spec['columns']}"
    if n != want_rows:
        return f"csv holds {n} rows, expected {want_rows}"
    return None
