"""The core operator: schema-reconciled UNION ALL over parquet files, plus
the parquet sink (SURVEY §2.4 O1, §2.1 S5; reference:
`merge_parquet_files` /root/reference/src/main.rs:549-614,
`merge_batches` :298-404).

Semantics reproduced exactly; execution is Spark-native:

- Compatible schemas  -> ONE multi-file vectorized scan
  (``spark.read.parquet(*paths)``) — no per-file plan nodes, a task per
  split, scales to any file count.
- Mismatched schemas  -> files are grouped by identical schema signature,
  each group is one scan projected to the common-column intersection
  (projection reaches the parquet reader => column pruning, unlike the
  reference which reads full batches then projects in memory,
  src/main.rs:587-592), groups combined with positional UNION ALL.
  Number of plan nodes = number of DISTINCT schemas, not number of files.
- Unlike the reference (which materializes every input batch in RAM before
  opening the writer, src/main.rs:580-599), Spark pipelines
  scan->project->write per task with spill — O(partition) memory.

The output row count is captured with ``DataFrame.observe`` during the
write job itself — no second scan (the reference sums batch row counts
inline, src/main.rs:601).
"""

from __future__ import annotations

import glob
import os
import shutil
from urllib.parse import quote
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from parquet_merger_spark.functions.naming import sanitize_filename
from parquet_merger_spark.partitioning import local_frame
from parquet_merger_spark.plans.planner import MergePlan
from parquet_merger_spark.plans.schema import (
    NoCommonColumnsError,
    NoFilesToMergeError,
    UnreadableSchemaError,
    find_common_columns,
    schemas_compatible,
)
from parquet_merger_spark.sources.catalog import probe_schemas


# Helper columns merged_df_ordered appends; write_parquet/export_csv sort
# the single output partition on them and drop them before writing.
ORDER_FILE_COL = "__pm_file_seq__"
ORDER_ROW_COL = "__pm_row_seq__"
_ORDER_FP_COL = "__pm_file_path__"  # internal join key, dropped in-build


def _qualified_uris(spark: SparkSession, paths: list[str]) -> list[str]:
    """The exact strings ``_metadata.file_path`` reports for these paths:
    Hadoop-qualified URIs (e.g. ``file:/abs/path`` — verified equal to
    ``fs.makeQualified(path).toString()``).  One JVM round trip qualifies
    the first path; when every path is absolute the rest reuse its scheme
    prefix (qualification of an absolute path is plain concatenation), so
    a 32k-file batch does not pay 32k py4j calls."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def qual(p: str) -> str:
        jp = jvm.org.apache.hadoop.fs.Path(p)
        return jp.getFileSystem(hconf).makeQualified(jp).toString()

    def _concat_safe(p: str) -> bool:
        # The shortcut assumes qual(p) == prefix + p, which only holds when
        # Hadoop's Path neither percent-escapes nor normalizes p: absolute,
        # URI-unreserved chars only (space/%/# etc. get escaped), no '//'
        # runs or trailing '/' (Path collapses/strips those).
        return (
            os.path.isabs(p)
            and quote(p, safe="/") == p
            and "//" not in p
            and not p.endswith("/")
        )

    first = qual(paths[0])
    if not first.endswith(paths[0]) or not all(map(_concat_safe, paths)):
        return [qual(p) for p in paths]
    prefix = first[: len(first) - len(paths[0])]
    return [first] + [prefix + p for p in paths[1:]]


def merged_df(
    spark: SparkSession, paths: list[str], *, _with_order: bool = False
) -> DataFrame:
    """Build the merged DataFrame for one batch (lazy — no job scans data,
    though at >= probe_schemas' distributed_threshold file counts the
    footer probing itself runs as a Spark mapInPandas job).

    Raises the reference's three hard errors: empty input, unreadable
    schema (naming the file), empty schema intersection.
    """
    if not paths:
        raise NoFilesToMergeError("No files to merge")

    schemas = []
    # concurrent footer probes (one per file, order-preserving); the
    # first unreadable file in PATH ORDER raises, same as the old serial
    # loop — concurrency must not make the named file nondeterministic
    for p, s in zip(paths, probe_schemas(spark, paths)):
        if s is None:
            raise UnreadableSchemaError(f"Cannot read schema from file: {p}")
        schemas.append(s)

    def _with_order_cols(df: DataFrame, cols: list[str]) -> DataFrame:
        reserved = {ORDER_FILE_COL, ORDER_ROW_COL, _ORDER_FP_COL}
        if reserved & set(cols):
            raise ValueError(f"input columns collide with {sorted(reserved)}")
        return df.select(
            *cols,
            F.col("_metadata.file_path").alias(_ORDER_FP_COL),
            F.col("_metadata.row_index").alias(ORDER_ROW_COL),
        )

    first = schemas[0]
    if all(schemas_compatible(first, s) for s in schemas[1:]):
        # Fast path: all columns kept, one distributed scan over all
        # files.  Passing the probed schema skips the reader's own
        # footer-based inference — at 4096 small files that inference
        # alone cost ~10s of driver wall before the first task ran
        base = spark.read.schema(first).parquet(*paths)
        if _with_order:
            base = _with_order_cols(base, [f.name for f in first.fields])
    else:
        common = find_common_columns(schemas)
        if not common:
            raise NoCommonColumnsError("No common columns found across all files")

        # Group files by identical schema signature so each distinct schema
        # is scanned once; select() pushes the projection into the reader.
        groups: dict[tuple, list[str]] = {}
        group_schema: dict[tuple, StructType] = {}
        for path, schema in zip(paths, schemas):
            key = tuple((f.name, f.dataType) for f in schema.fields)
            groups.setdefault(key, []).append(path)
            group_schema[key] = schema

        parts = []
        for key, group_paths in groups.items():
            # probed per-group schema: skips inference (see fast path)
            scan = spark.read.schema(group_schema[key]).parquet(*group_paths)
            parts.append(
                _with_order_cols(scan, list(common))
                if _with_order
                else scan.select(*common)
            )
        # Positional union is safe: every part was select()-ed into the
        # same column order with exactly-equal types (§1.4).
        base = reduce(DataFrame.union, parts)

    if not _with_order:
        return base
    # file seq = position in `paths` (the reference appends inputs to the
    # writer strictly in member order, src/main.rs:580-599); resolved via
    # a broadcast join on the qualified URI Spark reports in _metadata.
    # _metadata.file_path names the LEAF file the row came from, so a
    # DIRECTORY input (a part-file dataset) must be expanded to its
    # leaves first — mapping the raw directory URI would leave every row
    # unmatched (pre-r09 this silently sorted such rows first; now the
    # null trap below makes the mismatch a hard error).  Leaves within a
    # directory get consecutive seqs in sorted-name order — equal to
    # part-number order within a single write job, and DETERMINISTIC
    # (same file set -> same order) even for appended datasets whose
    # uuid-bearing names don't sort in write order.
    def _hadoop_leaves(p: str) -> list[str] | None:
        # scheme-qualified inputs (s3a://, hdfs://, ...) can't be walked
        # with os.* — list through the Hadoop FS API instead.  Returns
        # None for a non-directory (plain file) input.
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jp = jvm.org.apache.hadoop.fs.Path(p)
        fs = jp.getFileSystem(hconf)
        if not fs.isDirectory(jp):
            return None
        base_depth = jp.toUri().getPath().rstrip("/").count("/")
        it = fs.listFiles(jp, True)  # recursive
        found = []
        while it.hasNext():
            st = it.next()
            uri_path = st.getPath().toUri().getPath()
            comps = uri_path.split("/")[base_depth + 1 :]
            # the reader's listing rule: hidden/metadata entries
            # (_SUCCESS, .crc, _tmp dirs, ...) are not data files, at
            # ANY level under the input
            if any(c.startswith(("_", ".")) for c in comps):
                continue
            found.append(st.getPath().toString())
        return sorted(found)

    leaves: list[str] = []
    for p in paths:
        if "://" in p or p.startswith("file:"):
            expanded = _hadoop_leaves(p)
            leaves.extend(expanded) if expanded is not None else leaves.append(p)
        elif os.path.isdir(p):
            # LISTING RULE = Spark's reader rule (all non-hidden leaves),
            # NOT the reference's folder-scan rule (*.parquet only,
            # src/main.rs:140-172 — that rule lives in catalog.scan_folders,
            # the discovery operator).  The seq map must cover exactly the
            # files spark.read.parquet(dir) will list, or the null trap
            # below false-fires; a stray non-parquet leaf fails the merge
            # at read time either way (documented divergence: the
            # reference never passes directories to its merge).
            # followlinks=True because the reader's local-FS listing
            # resolves symlinks too; cycle guard mirrors scan_folders.
            collected = []
            seen_dirs: set[tuple[int, int]] = set()
            for root, dirs, files in os.walk(p, followlinks=True):
                try:
                    st = os.stat(root)
                except OSError:
                    dirs[:] = []
                    continue
                if (st.st_dev, st.st_ino) in seen_dirs:
                    dirs[:] = []  # cyclic symlink: already walked
                    continue
                seen_dirs.add((st.st_dev, st.st_ino))
                # hidden/metadata entries (_SUCCESS, .crc, ...) are not
                # data files, at any level
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                collected.extend(
                    os.path.join(root, f)
                    for f in files
                    if not f.startswith(("_", "."))
                )
            # ONE ordering rule for both listing branches: leaves sorted
            # by full path string (equal to part-number order within a
            # single write job; deterministic always)
            leaves.extend(sorted(collected))
        else:
            leaves.append(p)
    uris = _qualified_uris(spark, leaves)
    seq_of: dict[str, int] = {}
    for i, u in enumerate(uris):
        seq_of.setdefault(u, i)
    mapping = local_frame(
        spark,
        list(seq_of.items()),
        f"{_ORDER_FP_COL} string, {ORDER_FILE_COL} long",
    )
    # LEFT join + an executor-side null trap, not INNER: an inner join
    # would silently DROP any row whose reported file_path has no mapping
    # (URI-encoding drift between _metadata and _qualified_uris), which is
    # worse than misordering it.  The trap turns the mismatch into a hard
    # error naming the unresolved URI the moment any task touches such a
    # row — no extra job, no count() pass over the data.
    joined = base.join(F.broadcast(mapping), _ORDER_FP_COL, "left")
    return joined.withColumn(
        ORDER_FILE_COL,
        F.when(
            F.col(ORDER_FILE_COL).isNull(),
            F.raise_error(
                F.concat(
                    F.lit("file sequence unresolved for "),
                    F.col(_ORDER_FP_COL),
                    F.lit(" (URI not in the qualified input set)"),
                )
            ).cast("long"),
        ).otherwise(F.col(ORDER_FILE_COL)),
    ).drop(_ORDER_FP_COL)


def merged_df_ordered(
    spark: SparkSession, paths: list[str]
) -> tuple[DataFrame, list[str]]:
    """:func:`merged_df` plus the reference's OUTPUT ROW ORDER: files
    strictly in ``paths`` order, rows within a file in file order.

    Returns ``(df, order_cols)``; the df carries two extra long columns
    (``__pm_file_seq__``, ``__pm_row_seq__``) to pass as ``order_by`` to
    :func:`write_parquet` / ``export_csv``, which sort the single output
    partition on them and DROP them before writing.  Needed because the
    single-file sink's repartition(1) is a round-robin shuffle whose
    reduce-side fetch order is nondeterministic on a cluster — without an
    explicit sort, single-file output row order is unspecified."""
    return (
        merged_df(spark, paths, _with_order=True),
        [ORDER_FILE_COL, ORDER_ROW_COL],
    )


def merge_dataframes(dfs: list[DataFrame]) -> DataFrame:
    """Schema-reconciled UNION ALL over already-constructed DataFrames —
    the same intersection semantics as :func:`merged_df` applied above the
    source layer (compatible -> positional union of all columns; mismatch ->
    select the common-column intersection in first-DF order, then union).
    """
    if not dfs:
        raise NoFilesToMergeError("No files to merge")
    schemas = [df.schema for df in dfs]
    first = schemas[0]
    if all(schemas_compatible(first, s) for s in schemas[1:]):
        return reduce(DataFrame.union, dfs)
    common = find_common_columns(schemas)
    if not common:
        raise NoCommonColumnsError("No common columns found across all files")
    return reduce(DataFrame.union, [df.select(*common) for df in dfs])


def merged_df_widen(spark: SparkSession, paths: list[str]) -> DataFrame:
    """UNION-WIDENING merge: the schema-evolution twin of :func:`merged_df`.

    The reference's contract is intersection-only — columns missing from
    any file are DROPPED (src/main.rs:485-520; golden-tested in
    test_merge.py).  Real lakes evolve the other way: a new ingest batch
    ADDS columns, and readers want the union schema with nulls where a
    file predates the column.  Spark's parquet source implements exactly
    that via ``mergeSchema`` — schema reconciliation happens at planning
    from footers; the scan stays one distributed multi-file read with
    pushdown intact.

    Kept separate from :func:`merged_df` (not a flag) so reference parity
    stays byte-exact while the widening path is an explicit opt-in."""
    if not paths:
        raise NoFilesToMergeError("No files to merge")
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def merge_dataframes_widen(dfs: list[DataFrame]) -> DataFrame:
    """Widening union over constructed DataFrames:
    ``unionByName(allowMissingColumns=True)`` — every column from every
    input survives, null-filled where absent.  Column order = first
    frame's columns, then new ones in first-appearance order (matching
    the ``mergeSchema`` source behavior of :func:`merged_df_widen`)."""
    if not dfs:
        raise NoFilesToMergeError("No files to merge")
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def promote_single_file(tmp: str, out_path: str, pattern: str) -> None:
    """Promote the single part file Spark wrote under ``tmp`` to
    ``out_path`` and remove the staging dir — ONE definition of the
    write-glob-move sequence shared by the parquet sink here and the CSV
    sink in :mod:`operators.export` (previously two in-sync copies).
    Raises a clear error when Spark produced no part file (e.g. a sink
    misconfiguration), instead of a bare IndexError."""
    parts = glob.glob(os.path.join(tmp, pattern))
    if not parts:
        raise RuntimeError(f"no {pattern} produced under {tmp}")
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    if os.path.isdir(out_path):
        shutil.rmtree(out_path)
    elif os.path.exists(out_path):
        os.remove(out_path)
    shutil.move(parts[0], out_path)
    shutil.rmtree(tmp)


def write_single_file(
    frame: DataFrame,
    out_path: str,
    fmt: str,
    options: dict[str, str],
    order_by: list[str] | None = None,
) -> None:
    """Write ``frame`` as exactly one ``fmt`` file at ``out_path`` — the
    single-file sink of :func:`write_parquet` and ``export.export_csv``.
    The caller passes a frame already narrowed to one partition.
    ``order_by`` columns are CONSUMED: the partition is sorted on them
    (spillable external sort), then they are dropped before the write."""
    tmp = out_path + "._tmp_single"
    if order_by:
        frame = frame.sortWithinPartitions(*order_by).drop(*order_by)
    frame.write.mode("overwrite").options(**options).format(fmt).save(tmp)
    promote_single_file(tmp, out_path, f"part-*.{fmt}")


def write_parquet(
    df: DataFrame,
    out_path: str,
    single_file: bool = False,
    compression: str | None = None,
    partition_by: list[str] | None = None,
    order_by: list[str] | None = None,
) -> int:
    """Parquet sink; returns the row count observed during the write.

    ``single_file=True`` gives reference parity (exactly one ``.parquet``
    file at ``out_path``) via repartition(1) + rename — correct only at
    single-node scale.  The default keeps Spark's parallel, partitioned
    directory output, which is the 100 TB path.

    ``order_by`` columns are CONSUMED: the single output partition is
    sorted on them (spillable external sort), then they are dropped
    before the write.  Without ``order_by``, single-file row order is
    UNSPECIFIED — repartition(1) is a round-robin shuffle whose
    reduce-side fetch order is nondeterministic on a cluster.
    ``merge_batches`` passes :func:`merged_df_ordered`'s keys to pin the
    reference's file-order output.  In directory mode the columns are
    dropped without sorting (multi-file output has no total order).

    ``partition_by`` hive-partitions the output (``col=value/``
    directories): readers filtering on those columns scan only matching
    directories (partition pruning — plan-asserted in tests/test_plans.py).
    Mutually exclusive with ``single_file``.
    """
    if single_file and partition_by:
        raise ValueError("partitioned output is multi-file; drop single_file")
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    opts = {"compression": compression} if compression else {}
    if single_file:
        # repartition(1), NOT coalesce(1): coalesce collapses the WHOLE
        # upstream scan into the single output task — a 4096-small-file
        # compaction read+write measured 6.8s coalesced vs 3.2s
        # repartitioned (isolated A/B); repartition keeps the scan/decode
        # parallel and shuffles rows to one writer, which is cheap in
        # exactly the regime where one output file is legitimate (data
        # fits one file)
        write_single_file(df.repartition(1), out_path, "parquet", opts, order_by)
    else:
        w = (df.drop(*order_by) if order_by else df).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.options(**opts).parquet(out_path)
    return int(obs.get["rows"])


@dataclass
class BatchResult:
    name: str
    output_path: str | None
    rows: int | None
    error: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None


@dataclass
class MergeProgress:
    """Live merge progress — the Spark twin of the reference's
    ``MergeProgress`` struct (src/main.rs:56-67), which its merge loop
    updates per input file (:335-377).  Spark's unit of read parallelism
    is the TASK (one per file split), so ``tasks_done/tasks_total`` over
    the batch's job group is the faithful equivalent of the reference's
    files_done/files_total; ``batches_done/batches_total`` mirrors its
    outer batch counter.  Delivered from a sampling thread (status
    tracker poll) while the write job runs, then once more with state
    ``done``/``failed`` — unlike the reference, whose single-threaded UI
    can't actually repaint until the merge returns."""

    batch_name: str
    state: str  # "running" | "done" | "failed"
    tasks_total: int
    tasks_done: int
    batches_done: int
    batches_total: int


def _group_task_tallies(sc, group_id: str) -> tuple[int, int]:
    """(total, completed) task counts over every stage of every job in a
    job group — status-tracker sampling, no listener registration (the
    py4j callback server is off by default in PySpark).

    Stages with zero activity are EXCLUDED: a job's stageIds include
    stages Spark skips via shuffle/cache reuse, whose numTasks would
    inflate the total while numCompletedTasks stays 0 — a progress bar
    that never reaches 100%.  Consequence: total grows as stages start,
    which a live progress display must tolerate (the terminal event's
    tallies are complete by construction)."""
    tracker = sc.statusTracker()
    total = done = 0
    for jid in tracker.getJobIdsForGroup(group_id):
        ji = tracker.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = tracker.getStageInfo(sid)
            if si is None:
                continue
            active = (
                si.numActiveTasks + si.numCompletedTasks + si.numFailedTasks
            )
            if active == 0:
                continue  # skipped (reused) or not-yet-started stage
            total += si.numTasks
            done += si.numCompletedTasks
    return total, done


def merge_batches(
    spark: SparkSession,
    plans: list[MergePlan],
    output_dir: str,
    single_file: bool = True,
    csv: bool = False,
    max_concurrency: int = 1,
    progress=None,
    progress_poll_sec: float = 0.2,
    compression: str | None = None,
) -> list[BatchResult]:
    """Execute a list of merge plans into ``<output_dir>/merged/``.

    Per-batch failures are collected, not raised — one bad batch does not
    abort the run (reference: errors aggregated at src/main.rs:331-403).

    ``max_concurrency > 1`` submits that many batch jobs to Spark at once
    from a thread pool.  Spark's scheduler runs concurrent jobs fine (and
    many small batches can't individually fill a cluster — overlapping
    them is the throughput lever when batch count >> batch size); results
    stay in plan order and per-batch isolation is unchanged.  The
    reference is strictly serial (src/main.rs:331-403).

    ``progress`` (optional ``Callable[[MergeProgress], None]``) receives
    LIVE per-batch updates while write jobs run — task tallies sampled
    from the status tracker every ``progress_poll_sec`` — plus a terminal
    ``done``/``failed`` event per batch (see :class:`MergeProgress`).
    Each batch's jobs run under their own job group, so tallies are
    per-batch even with concurrent batches; the callback fires from
    worker threads and must be thread-safe when ``max_concurrency > 1``.

    Spark jobs per batch of arrow-probed files, ``single_file=True``:
    the file-sequence mapping's broadcast (1 task: the mapping is built
    as one partition), the ``repartition(1)`` shuffle map, the sorted
    Parquet write, and with ``csv`` one CSV write (4 jobs).  The CSV
    re-reads the merged file with the schema just written, so no
    footer-inference job runs, and narrows it with ``coalesce(1)``, so
    no shuffle runs.  Directory mode runs the Parquet write and with
    ``csv`` the CSV write (2 jobs).
    """
    import threading
    import uuid

    from concurrent.futures import ThreadPoolExecutor

    from parquet_merger_spark.operators.export import export_csv

    merged_dir = os.path.join(output_dir, "merged")
    os.makedirs(merged_dir, exist_ok=True)

    sc = spark.sparkContext
    total_batches = len(plans)
    done_lock = threading.Lock()
    done_count = [0]

    def run_one(plan: MergePlan) -> BatchResult:
        name = sanitize_filename(plan.name)
        out = os.path.join(merged_dir, name + ".parquet") if single_file else os.path.join(merged_dir, name)

        gid = stop = poller = None
        if progress is not None:
            gid = f"pm-merge-{uuid.uuid4().hex[:12]}"
            # job-group assignment is thread-local, so each pool worker
            # tags only its own batch's jobs
            sc.setJobGroup(gid, f"merge batch {plan.name}")
            stop = threading.Event()

            def poll() -> None:
                while not stop.wait(progress_poll_sec):
                    t, d = _group_task_tallies(sc, gid)
                    with done_lock:
                        bd = done_count[0]
                    try:
                        progress(
                            MergeProgress(
                                plan.name, "running", t, d, bd, total_batches
                            )
                        )
                    except Exception:
                        # an observer must never kill the merge (and a
                        # raising callback would silently end this
                        # daemon thread, freezing updates mid-batch)
                        return

            poller = threading.Thread(target=poll, daemon=True)
            poller.start()
        try:
            # single-file mode pins the reference's row order (files in
            # plan order, rows in file order); directory mode stays
            # unordered — a multi-file 100 TB output has no total order
            if single_file:
                df, order_cols = merged_df_ordered(spark, plan.paths)
            else:
                df, order_cols = merged_df(spark, plan.paths), None
            rows = write_parquet(
                df,
                out,
                single_file=single_file,
                compression=compression,
                order_by=order_cols,
            )
            if csv:
                # re-reading with the schema just written skips the
                # footer-inference job
                written = (df.drop(*order_cols) if order_cols else df).schema
                csv_src = spark.read.schema(written).parquet(out)
                csv_order = None
                if single_file:
                    # the one file this batch wrote, in reference order:
                    # coalesce(1) narrows it without a shuffle, and its row
                    # index keeps that order across read splits
                    csv_src = csv_src.withColumn(
                        ORDER_ROW_COL, F.col("_metadata.row_index")
                    ).coalesce(1)
                    csv_order = [ORDER_ROW_COL]
                export_csv(
                    csv_src,
                    os.path.join(merged_dir, name + ".csv"),
                    single_file=single_file,
                    order_by=csv_order,
                    _narrowed=single_file,
                )
            result = BatchResult(name=plan.name, output_path=out, rows=rows)
        except Exception as exc:  # isolate per-batch failure
            result = BatchResult(
                name=plan.name, output_path=None, rows=None, error=str(exc)
            )
        finally:
            if progress is not None:
                stop.set()
                poller.join()
                # clear ALL thread-local properties setJobGroup set —
                # leaving description/interruptOnCancel behind would
                # misattribute every later job from this thread
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                sc.setLocalProperty("spark.job.interruptOnCancel", None)
        with done_lock:
            done_count[0] += 1
            bd = done_count[0]
        if progress is not None:
            t, d = _group_task_tallies(sc, gid)
            try:
                progress(
                    MergeProgress(
                        plan.name,
                        "done" if result.ok else "failed",
                        t,
                        d,
                        bd,
                        total_batches,
                    )
                )
            except Exception:
                # the contract is "failures are COLLECTED, not raised":
                # a raising terminal callback (closed UI handle) must not
                # abort the run and discard the finished BatchResults
                pass
        return result

    if max_concurrency <= 1:
        return [run_one(p) for p in plans]
    with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
        return list(pool.map(run_one, plans))
