"""CSV sink (SURVEY §2.1 S6, §2.2 P6, §2.8 F6-F7; reference:
`export_parquet_to_csv` /root/reference/src/main.rs:693-729).

Semantics: header row; ``__internal__`` columns dropped (P6); nulls written
as empty strings; RFC-4180 quoting.  All of these are Spark CSV-writer
defaults except the internal-column drop, which is a plain ``select``.

Documented deviation (SURVEY §1.3): the reference renders dates/timestamps
through Rust's ``Debug`` formatter (``Some(2024-05-01T00:00:00)``); we emit
ISO-8601 instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from parquet_merger_spark.functions.strings import is_internal_column


def drop_internal_columns(
    df: DataFrame, keep: list[str] | None = None
) -> DataFrame:
    """Drop ``__name__``-style columns (reference: src/main.rs:689-691,
    applied only on the CSV path at :706 — the parquet sink keeps them).

    ``keep`` exempts named columns from the drop (the CSV sink's consumed
    ``order_by`` keys are internal-shaped but must survive until the
    sort) — one policy site instead of two divergable copies."""
    exempt = set(keep or ())
    cols = [
        c for c in df.columns if c in exempt or not is_internal_column(c)
    ]
    return df.select(*cols)


def export_csv(
    df: DataFrame,
    out_path: str,
    single_file: bool = False,
    order_by: list[str] | None = None,
    *,
    _narrowed: bool = False,
) -> None:
    """Write CSV with header, internal columns dropped, ISO timestamps.

    ``single_file=True`` -> exactly one ``.csv`` file at ``out_path``
    (parity mode); default is Spark's parallel directory output.

    ``order_by`` columns are CONSUMED (sorted on within the single output
    partition, dropped before the write) — same contract as
    ``merge.write_parquet``.  Without it, single-file row order is
    unspecified (repartition(1) fetch order is nondeterministic);
    ``merge_batches`` passes the merged file's row index to keep the CSV
    in reference order, with ``_narrowed`` set because it has already
    narrowed that one-file source to one partition."""
    # internal-column drop must not eat the consumed ordering keys
    clean = drop_internal_columns(df, keep=order_by)
    # escape='"' => RFC-4180 doubled inner quotes (reference: escape_csv_field,
    # src/main.rs:731-737); Spark's default escape is backslash.
    opts = {
        "header": "true",
        "escape": '"',
        "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSS",
        "dateFormat": "yyyy-MM-dd",
    }
    if single_file:
        from parquet_merger_spark.operators.merge import write_single_file

        # repartition(1), not coalesce(1) — same rationale as
        # merge.write_parquet: keep the upstream scan parallel and shuffle
        # rows to the single writer instead of serializing the whole read
        frame = clean if _narrowed else clean.repartition(1)
        write_single_file(frame, out_path, "csv", opts, order_by)
    else:
        writer = (clean.drop(*order_by) if order_by else clean).write.mode(
            "overwrite"
        ).options(**opts)
        writer.csv(out_path)
