"""File discovery, schema probing, and the file-catalog DataFrame.

Covers SURVEY §2.1 S1-S4 (reference: /root/reference/src/main.rs —
`scan_folders` :138-182, `get_file_schema` :433-437, read loop :582-599).

Discovery runs on the driver (like the reference's WalkDir): it is pure
metadata over directory listings.  The *data* scan is a lazy Spark read that
executes on executors.  At 100 TB / object-store scale the idiomatic path is
`spark.read.option("recursiveFileLookup", ...)` which lists in parallel on
the cluster; `scan_folders` exists to expose the reference's file-catalog
surface (display paths, per-file rows) for planning and UIs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class ParquetFileEntry:
    """One discovered parquet file (reference struct: src/main.rs:37-43)."""

    full_path: str
    display_path: str  # path relative to the registered folder


def _is_parquet(name: str) -> bool:
    """Case-insensitive extension check (reference: src/main.rs:151-152)."""
    return os.path.splitext(name)[1].lower() == ".parquet"


def scan_folders(folders: list[str]) -> list[ParquetFileEntry]:
    """Recursively discover parquet files under each folder, following
    symlinks, sorted by display path (reference: src/main.rs:138-182).

    Driver-side metadata walk; does not read any file contents.
    """
    entries: list[ParquetFileEntry] = []
    # dedup PHYSICAL files across registrations, not just folder strings:
    # registering a folder and its subfolder (or a symlinked alias) must
    # not catalog the same file twice — smart_batch groups by basename,
    # so a double-cataloged file would merge with itself and duplicate
    # every row in the output
    seen_files: set[str] = set()
    for folder in dict.fromkeys(folders):  # registration dedups folders (O2)
        # followlinks=True matches the reference's WalkDir(follow_links);
        # WalkDir detects symlink cycles, os.walk does not — track visited
        # directories by (st_dev, st_ino) and prune re-entries so a cyclic
        # symlink can't hang discovery.
        seen_dirs: set[tuple[int, int]] = set()
        for dirpath, dirnames, filenames in os.walk(folder, followlinks=True):
            try:
                st = os.stat(dirpath)
            except OSError:
                dirnames[:] = []
                continue
            dev_ino = (st.st_dev, st.st_ino)
            if dev_ino in seen_dirs:
                dirnames[:] = []  # already walked: stop descending
                continue
            seen_dirs.add(dev_ino)
            for name in filenames:
                if not _is_parquet(name):
                    continue
                full = os.path.join(dirpath, name)
                real = os.path.realpath(full)
                if real in seen_files:
                    continue
                seen_files.add(real)
                display = os.path.relpath(full, folder)
                entries.append(ParquetFileEntry(full_path=full, display_path=display))
    entries.sort(key=lambda e: e.display_path)
    return entries


def probe_schema(spark: SparkSession, path: str) -> StructType | None:
    """Footer-only schema probe; None when unreadable
    (reference: src/main.rs:433-437 returns Option).

    ``spark.read.parquet(path).schema`` reads only parquet footers, no
    data pages — but Spark's footer inference runs as a one-task job.
    :func:`read_parquet_batch` is the job-free read: it takes the schema
    from the arrow footer probe where that is exact.
    """
    try:
        return spark.read.parquet(path).schema
    except Exception:
        return None


class _UnsafeForArrowProbe(Exception):
    """Raised by the arrow->Spark type walk when a type is outside the
    parity-pinned safe set; the caller falls back to the Spark probe."""


class _SparkRejectsFile(Exception):
    """Raised by the arrow probe for a file the Spark probe is known to
    refuse; the caller answers None without a JVM round trip."""


def _arrow_probe_type(t, int96_paths: frozenset[str], path: str):
    """Map a parquet-level arrow type to the EXACT Spark type
    ``spark.read.parquet(file).schema`` would report, or raise
    :class:`_UnsafeForArrowProbe`.

    The safe set is pinned file-by-file against the Spark probe in
    ``tests/test_planner.py`` (type zoo: every branch below plus the
    fallback types).  Notable mappings, all verified:

    - tz-naive timestamp (s/ms/us) -> TimestampNTZType (Spark's
      ``inferTimestampNTZ`` default), tz-aware -> TimestampType;
    - ns-unit timestamps: physical INT96 (legacy Spark writers) reads
      as TimestampType, top level only; INT64 ns is answered by
      :func:`_probe_schema_arrow` before this walk, nested ns is UNSAFE;
    - unsigned ints are UNSAFE (Spark widens u8->short, u32->long,
      u64->decimal(20,0); handled by the Spark-probe fallback);
    - every field/element is nullable: Spark's file-source inference
      applies ``asNullable`` to the whole schema regardless of parquet
      required/optional.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    if pa.types.is_boolean(t):
        return T.BooleanType()
    if pa.types.is_int8(t):
        return T.ByteType()
    if pa.types.is_int16(t):
        return T.ShortType()
    if pa.types.is_int32(t):
        return T.IntegerType()
    if pa.types.is_int64(t):
        return T.LongType()
    if pa.types.is_float32(t):
        return T.FloatType()
    if pa.types.is_float64(t):
        return T.DoubleType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return T.StringType()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return T.BinaryType()
    if pa.types.is_date(t):
        return T.DateType()
    if pa.types.is_decimal128(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_timestamp(t):
        if t.unit in ("s", "ms", "us"):
            return T.TimestampType() if t.tz else T.TimestampNTZType()
        if t.unit == "ns" and path in int96_paths:
            return T.TimestampType()  # legacy INT96, top-level only
        raise _UnsafeForArrowProbe(f"timestamp[{t.unit}] at {path!r}")
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        elem = _arrow_probe_type(t.value_type, frozenset(), f"{path}.<list>")
        return T.ArrayType(elem, containsNull=True)
    if pa.types.is_struct(t):
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    _arrow_probe_type(f.type, frozenset(), f"{path}.{f.name}"),
                    nullable=True,
                )
                for f in t
            ]
        )
    if pa.types.is_map(t):
        return T.MapType(
            _arrow_probe_type(t.key_type, frozenset(), f"{path}.<key>"),
            _arrow_probe_type(t.item_type, frozenset(), f"{path}.<val>"),
            valueContainsNull=True,
        )
    raise _UnsafeForArrowProbe(f"{t} at {path!r}")


# Parquet LEAF logical-type annotations whose pyarrow conversion is pinned
# against the Spark probe by the type zoo (tests/test_planner.py).  Anything
# else is UNSAFE even when the converted arrow type looks mappable: e.g.
# ENUM-annotated BYTE_ARRAY converts to arrow `binary` (-> BinaryType here)
# while Spark's converter reports StringType — the arrow probe would return
# a WRONG schema without ever triggering the Spark-probe fallback.  JSON /
# BSON / UUID / FLOAT16 / INTERVAL / UNKNOWN likewise fall back.
_SAFE_LEAF_LOGICAL_TYPES = frozenset(
    {"NONE", "STRING", "INT", "DECIMAL", "DATE", "TIMESTAMP"}
)

# footer key under which Spark's writer stores the Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _check_leaf_logical_types(pq_schema) -> None:
    """Raise :class:`_UnsafeForArrowProbe` when any leaf column carries a
    logical-type annotation outside the parity-pinned set (advisor finding,
    r07: the ENUM->binary conversion silently broke the byte-identical-
    shortcut invariant).  LIST/MAP annotations live on group nodes, which
    this leaf iteration never visits — element/key/value leaves carry
    their own (checked) annotations."""
    for i in range(len(pq_schema)):
        col = pq_schema.column(i)
        lt = col.logical_type.type
        if lt not in _SAFE_LEAF_LOGICAL_TYPES:
            raise _UnsafeForArrowProbe(
                f"logical type {lt} at {col.path!r} is outside the pinned zoo"
            )


def _probe_schema_arrow(path: str, nanos_as_long: bool = False) -> StructType:
    """Footer probe via pyarrow — no JVM round trip (~1 ms vs ~15 ms).

    Uses the PARQUET-LEVEL schema (``to_arrow_schema`` on the parquet
    schema, not the metadata-restored ``schema_arrow``): the embedded
    ``ARROW:schema`` blob can restore writer-side types (date64,
    fixed_size_list, uint) that Spark's converter — which only sees the
    parquet annotations — never would.  Raises on anything it cannot
    map with pinned parity; the caller then falls back to the Spark
    probe, so the fast path can only ever be a byte-identical shortcut.

    A top-level INT64 TIMESTAMP(NANOS) column (pandas' default unit) is
    answered here: Spark's converter rejects the whole file, so this
    raises :class:`_SparkRejectsFile`, unless ``nanos_as_long`` (the
    ``spark.sql.legacy.parquet.nanosAsLong`` conf) maps it to bigint.
    A footer carrying Spark's own schema takes the fallback instead,
    since Spark reads that schema rather than converting the columns.
    For the same reason any Spark-written footer whose stored schema
    (made nullable, as Spark's read makes it) differs from the converted
    one raises :class:`_UnsafeForArrowProbe`: intervals, for one, are
    stored as plain ints, and field metadata has no parquet form.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    pf = pq.ParquetFile(path)
    pq_schema = pf.schema
    _check_leaf_logical_types(pq_schema)
    int96_paths = frozenset(
        pq_schema.column(i).path
        for i in range(len(pq_schema))
        if pq_schema.column(i).physical_type == "INT96"
    )
    arrow_schema = pq_schema.to_arrow_schema()
    ns_int64 = {
        f.name
        for f in arrow_schema
        if pa.types.is_timestamp(f.type)
        and f.type.unit == "ns"
        and f.name not in int96_paths
    }
    if ns_int64:
        if _SPARK_SCHEMA_KEY in (pf.metadata.metadata or {}):
            raise _UnsafeForArrowProbe(f"Spark schema in the footer of {path!r}")
        if not nanos_as_long:
            raise _SparkRejectsFile(f"INT64 TIMESTAMP(NANOS) in {path!r}")
    fields = [
        T.StructField(
            f.name,
            T.LongType()
            if f.name in ns_int64
            else _arrow_probe_type(f.type, int96_paths, f.name),
            nullable=True,
        )
        for f in arrow_schema
    ]
    schema = T.StructType(fields)
    stored = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None and _as_nullable(
        StructType.fromJson(json.loads(stored))
    ) != schema:
        raise _UnsafeForArrowProbe(f"Spark schema in the footer of {path!r} differs")
    return schema


def _as_nullable(t):
    """Spark's ``DataType.asNullable``: every field, element and map
    value nullable, metadata kept."""
    from pyspark.sql import types as T

    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _conf(spark: SparkSession, key: str, default: str) -> str:
    try:
        return spark.conf.get(key, default)
    except Exception:
        return default


def _arrow_probe_confs(spark: SparkSession) -> tuple[bool, bool]:
    """``(arrow_ok, nanos_as_long)`` for the arrow footer probe.

    The arrow tier's parity is pinned under Spark's DEFAULT parquet
    reader confs; each of the three checked here changes what the Spark
    probe reports for some type (tz-naive -> TimestampType when NTZ
    inference is off, unannotated BYTE_ARRAY -> string, INT96 ->
    non-timestamp), so under a non-default value ``arrow_ok`` is False
    and every probe takes the authoritative Spark path.  nanosAsLong is
    passed to the arrow probe instead: it decides whether a top-level
    INT64 ns column reads as bigint or makes Spark refuse the file.
    """
    arrow_ok = (
        _conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
        and _conf(spark, "spark.sql.parquet.binaryAsString", "false") == "false"
        and _conf(spark, "spark.sql.parquet.int96AsTimestamp", "true") == "true"
    )
    nanos_as_long = (
        _conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "false").strip().lower()
        == "true"
    )
    return arrow_ok, nanos_as_long


def probe_schemas(
    spark: SparkSession,
    paths: list[str],
    max_workers: int | None = None,
    distributed_threshold: int = 8192,
) -> list[StructType | None]:
    """Probe many footers CONCURRENTLY; one result per path, in order
    (None where unreadable — same contract as :func:`probe_schema`).

    The file-count scale path: one serial Spark probe is a driver->JVM
    round trip per footer (~15 ms), so a 100k-file batch set costs tens
    of minutes before any merge starts.  Three tiers:

    1. an arrow-native footer probe (:func:`_probe_schema_arrow`) reads
       the footer in-process (~0.5 ms) with a parity-pinned type
       mapping — any type outside the pinned set, or any read error,
       falls back to the authoritative Spark probe for that file, so
       results are byte-identical by construction; a file the Spark
       probe is known to refuse (top-level INT64 ns timestamps under
       default confs) is answered None without it;
    2. a driver thread pool overlaps the probes (arrow IO releases the
       GIL; py4j serves concurrent fallback calls over separate gateway
       connections) — the default up to ``distributed_threshold``;
    3. at or above the threshold, the arrow probes run ON THE CLUSTER
       (mapInPandas over the path list, schemas shipped back as JSON —
       the same executor-side footer pattern ``sources/stats.py`` uses
       for row-group pruning): wall scales with executors, not driver
       threads, which is the 1M-file regime.  Files the executor pass
       marks unsafe/unreadable still fall back to the driver-side Spark
       probe, preserving exact parity.

    Ordering: results[i] is paths[i], so callers' positional zip with
    paths (mismatch detection, schema grouping) is unaffected.
    """
    if not paths:
        return []

    arrow_ok, nanos_as_long = _arrow_probe_confs(spark)

    def _probe_one(p: str) -> StructType | None:
        if arrow_ok:
            try:
                return _probe_schema_arrow(p, nanos_as_long)
            except _SparkRejectsFile:
                return None
            except Exception:
                pass
        return probe_schema(spark, p)

    if len(paths) == 1:  # no pool spin-up for the common single-file case
        return [_probe_one(paths[0])]

    from concurrent.futures import ThreadPoolExecutor

    workers = max_workers or min(16, len(paths), os.cpu_count() or 4)

    if arrow_ok and len(paths) >= distributed_threshold:
        results: dict[str, StructType | None] = _probe_schemas_distributed(
            spark, paths, nanos_as_long
        )
        # exact parity for the residue: unsafe/unreadable files get the
        # authoritative Spark probe, same as the threaded tier — pooled,
        # since a batch set with (say) one uint column per file would
        # otherwise degrade back to one serial JVM round trip per file
        residue = [p for p in paths if p not in results]
        if residue:
            with ThreadPoolExecutor(max_workers=workers) as pool:
                probed = pool.map(lambda p: probe_schema(spark, p), residue)
                results.update(zip(residue, probed))
        return [results[p] for p in paths]

    with ThreadPoolExecutor(max_workers=workers) as pool:
        return list(pool.map(_probe_one, paths))


def _probe_schemas_distributed(
    spark: SparkSession, paths: list[str], nanos_as_long: bool
) -> dict[str, StructType | None]:
    """Executor-side arrow footer probes: path list -> (path, schema
    JSON) via mapInPandas.  A None JSON marks an unsafe/unreadable file,
    which is left out of the result for the caller's Spark-probe
    fallback; the JSON ``null`` marks a file Spark is known to refuse,
    answered None.  StructType round-trips its JSON representation
    exactly (``StructType.fromJson``)."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    def probe_batches(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for p in pdf["file"]:
                try:
                    out.append(_probe_schema_arrow(p, nanos_as_long).json())
                except _SparkRejectsFile:
                    out.append("null")
                except Exception:
                    out.append(None)
            yield pd.DataFrame({"file": pdf["file"], "schema_json": out})

    files = spark.createDataFrame([(p,) for p in paths], "file string")
    n_slices = max(1, min(len(paths) // 256, 512))
    rows = (
        files.repartition(n_slices)
        .mapInPandas(probe_batches, "file string, schema_json string")
        .collect()
    )
    return {
        r["file"]: (
            None
            if r["schema_json"] == "null"
            else StructType.fromJson(json.loads(r["schema_json"]))
        )
        for r in rows
        if r["schema_json"] is not None
    }


def file_catalog_df(spark: SparkSession, folders: list[str]) -> DataFrame:
    """The discovered-file list as a DataFrame: (full_path, display_path,
    file_name, file_stem).

    This is the metadata table the reference's GUI list/search/smart-batch
    operate on; keeping it a DataFrame lets those become ordinary Spark ops
    (filter/groupBy) and scale to millions of files.
    """
    from parquet_merger_spark.functions.strings import basename_col, stem_col

    entries = scan_folders(folders)
    schema = "full_path string, display_path string"
    df = spark.createDataFrame(
        [(e.full_path, e.display_path) for e in entries], schema=schema
    )
    return df.withColumns(
        {
            "file_name": basename_col("full_path"),
            "file_stem": stem_col("full_path"),
        }
    )


# Parquet summary files: with mergeSchema off Spark infers from one of
# these before any data file
_SUMMARY_PREFIXES = ("_metadata", "_common_metadata")


def _spark_lists(name: str) -> bool:
    """Whether Spark's file listing keeps an entry of this name: it drops
    ``_``-prefixed names without ``=`` (summary files excepted),
    ``.``-prefixed names and ``._COPYING_`` files
    (``HadoopFSUtils.shouldFilterOutPathName``)."""
    return name.startswith(_SUMMARY_PREFIXES) or not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(paths: list[str]) -> str | None:
    """The one footer Spark's schema inference reads with mergeSchema
    off: the first listed data file in full-path order.  None when the
    listing is not one this mirror reproduces exactly — a relative,
    globbed, missing or unlisted path, a non-flat directory (partition
    columns), a summary file, a streaming sink's log — or when there is
    no data file at all."""
    files = []
    for p in paths:
        if not os.path.isabs(p) or any(c in p for c in "{}[]*?\\"):
            return None
        p = os.path.normpath(p)
        if os.path.isdir(p):
            if os.path.exists(os.path.join(p, "_spark_metadata")):
                return None  # a streaming sink's output: Spark lists its log
            with os.scandir(p) as it:
                listed = [(e.path, e.is_file()) for e in it if _spark_lists(e.name)]
        elif os.path.isfile(p) and _spark_lists(os.path.basename(p)):
            listed = [(p, True)]
        else:
            return None
        for path, is_file in listed:
            if not is_file or os.path.basename(path).startswith(_SUMMARY_PREFIXES):
                return None
            files.append(path)
    # Spark sorts Java strings: UTF-16 code-unit order
    return min(files, key=lambda f: f.encode("utf-16-be"), default=None)


def read_parquet_batch(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Vectorized multi-file parquet scan (reference read loop:
    src/main.rs:582-599, one file at a time; Spark reads all files of a
    batch as one distributed scan with a task per split) that starts no
    schema-inference job.

    With ``spark.sql.parquet.mergeSchema`` off, Spark's inference reads
    one footer: the first data file in full-path order.  This reader
    picks the same file, probes it with the arrow footer probe and hands
    the schema to ``spark.read.schema(...)``, so the schema is the one
    Spark would infer, with no one-task footer job.  It falls back to
    plain ``spark.read.parquet(*paths)`` — Spark's own schema or error —
    when a path is not a local file or flat local directory (partitioned
    directories, object-store URIs), a summary file or a streaming
    sink's log is present, there is no data file, the arrow probe raises (an unsafe type, a corrupt
    footer, or a file Spark refuses such as ns timestamps under default
    confs), or a reader conf is non-default (the three
    :func:`probe_schemas` checks, plus mergeSchema).
    """
    arrow_ok, nanos_as_long = _arrow_probe_confs(spark)
    if arrow_ok and _conf(spark, "spark.sql.parquet.mergeSchema", "false") == "false":
        try:
            first = _first_data_file(paths)
            schema = first and _probe_schema_arrow(first, nanos_as_long)
        except Exception:  # Spark's own inference decides: its schema or error
            schema = None
        if schema is not None:
            return spark.read.schema(schema).parquet(*paths)
    return spark.read.parquet(*paths)
