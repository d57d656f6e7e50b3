"""Fault-tolerant text ingestion: parse what parses, quarantine the rest.

At 100 TB there WILL be malformed lines — a truncated upload, a
mixed-schema producer, a stray log line in a JSONL shard.  The two wrong
answers are FAILFAST (one bad byte kills a million-file job) and
DROPMALFORMED (data silently vanishes).  The production pattern is
PERMISSIVE parsing with the raw text of every unparsable record captured
in a corrupt-record column, split into (valid, quarantine) outputs — the
text-source twin of :func:`operators.profile.quarantine`.

Spark detail: a query that touches ONLY the corrupt-record column of a
json/csv source is disallowed (the parser would have nothing to parse),
and filtering on it from the live scan can re-parse per consumer — so
both outputs here are derived from one checkpointed parse (document: at
real scale, write the parsed frame out once and split from that, same
shape).  The checkpoint scan is a ``LogicalRDD``, not a file scan, so the
rule does not apply to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_merger_spark.barrier import materialize_lazy

_CORRUPT = "_corrupt_record"


def _split_corrupt(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    parsed = parsed.transform(materialize_lazy)
    valid = parsed.filter(parsed[_CORRUPT].isNull()).drop(_CORRUPT)
    bad = parsed.filter(parsed[_CORRUPT].isNotNull()).select(
        parsed[_CORRUPT].alias("raw_record")
    )
    return valid, bad


def read_jsonl_robust(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines read returning ``(valid, quarantine)``.  ``schema`` is
    the DDL of the EXPECTED columns (inference is a full extra pass and
    would widen types to fit the garbage — always pass the contract).
    Valid rows carry the declared columns; quarantine rows carry the raw
    line for repair/inspection."""
    full_schema = f"{schema}, {_CORRUPT} string"
    parsed = spark.read.schema(full_schema).option("mode", "PERMISSIVE").json(path)
    return _split_corrupt(parsed)


def read_csv_robust(
    spark: SparkSession, path: str, schema: str, header: bool = True
) -> tuple[DataFrame, DataFrame]:
    """CSV twin of :func:`read_jsonl_robust`: rows whose fields fail to
    parse under the declared schema land in quarantine with the raw
    line."""
    full_schema = f"{schema}, {_CORRUPT} string"
    parsed = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("header", str(header).lower())
        .csv(path)
    )
    return _split_corrupt(parsed)
