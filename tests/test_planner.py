"""Catalog + planner tests (SURVEY §2.1 S1-S3, §2.5 A2, EP2)."""

import os

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from parquet_merger_spark.operators.merge import merged_df
from parquet_merger_spark.plans.planner import plan_batch, smart_batch
from parquet_merger_spark.plans.schema import UnreadableSchemaError
from parquet_merger_spark.sources.catalog import (
    file_catalog_df,
    probe_schema,
    scan_folders,
)


def _write(path, cols):
    path.parent.mkdir(parents=True, exist_ok=True)
    pd.DataFrame(cols).to_parquet(path, index=False)
    return str(path)


def _name_groups_tree(tmp_path):
    """FIXTURES §B `name_groups`: 3× part_001 in different dirs,
    2× daily_2024, 1 orphan."""
    base = {"key": pd.Series(range(10), dtype="int64")}
    for sub in ["d1", "d2", "d3"]:
        _write(tmp_path / sub / "part_001.parquet", base)
    for sub in ["d1", "d2"]:
        _write(tmp_path / sub / "daily_2024.parquet", base)
    _write(tmp_path / "d3" / "orphan.parquet", base)
    (tmp_path / "d3" / "not_parquet.txt").write_text("ignore me")
    return tmp_path


def test_scan_folders_recursive_filtered_sorted(tmp_path):
    root = _name_groups_tree(tmp_path)
    entries = scan_folders([str(root)])
    assert len(entries) == 6
    assert [e.display_path for e in entries] == sorted(e.display_path for e in entries)
    assert all(e.full_path.endswith(".parquet") for e in entries)


def test_scan_folders_dedups_registered_folders(tmp_path):
    root = _name_groups_tree(tmp_path)
    once = scan_folders([str(root)])
    twice = scan_folders([str(root), str(root)])
    assert len(once) == len(twice)


def test_probe_schema_footer_only(spark, tmp_path):
    p = _write(tmp_path / "t.parquet", {"a": pd.Series([1], dtype="int64")})
    schema = probe_schema(spark, p)
    assert [f.name for f in schema.fields] == ["a"]
    assert probe_schema(spark, str(tmp_path / "missing.parquet")) is None


def test_file_catalog_df(spark, tmp_path):
    root = _name_groups_tree(tmp_path)
    df = file_catalog_df(spark, [str(root)])
    rows = {(r.file_name, r.file_stem) for r in df.collect()}
    assert ("part_001.parquet", "part_001") in rows
    assert df.count() == 6


def test_smart_batch_group_by_filename_having_count_gt_1(spark, tmp_path):
    root = _name_groups_tree(tmp_path)
    plans, singletons = smart_batch(spark, scan_folders([str(root)]))
    assert [p.name for p in plans] == ["daily_2024", "part_001"]
    assert {len(p.paths) for p in plans} == {2, 3}
    assert singletons == 1
    assert all(not p.schema_mismatch for p in plans)


def test_plan_batch_manual(spark, tmp_path):
    a = _write(tmp_path / "part_001.parquet", {"k": pd.Series([1], dtype="int64")})
    b = _write(tmp_path / "part_002.parquet", {"k": pd.Series([2], dtype="int64")})
    plan = plan_batch(spark, [b, a], batch_number=5)
    assert plan.paths == sorted([a, b])
    assert plan.name == "part"  # common prefix 'part_00' trimmed
    assert not plan.schema_mismatch


def test_plan_batch_flags_mismatch(spark, tmp_path):
    a = _write(tmp_path / "x_1.parquet", {"k": pd.Series([1], dtype="int64")})
    b = _write(tmp_path / "x_2.parquet", {"k": pd.Series([2], dtype="int32")})
    plan = plan_batch(spark, [a, b])
    assert plan.schema_mismatch


def test_selection_set_filtered_semantics():
    """O3: select/deselect-all act only on the VISIBLE (filtered) subset;
    hidden selections survive (reference src/main.rs:1046-1058)."""
    from parquet_merger_spark.plans.planner import SelectionSet

    s = SelectionSet()
    s.toggle(0)
    s.toggle(7)          # will be hidden by the filter below
    s.select_all([1, 2, 3])
    assert s.selected == {0, 1, 2, 3, 7}
    s.deselect_all([0, 1, 2, 3])  # 7 not visible -> stays selected
    assert s.selected == {7}
    s.toggle(7)
    assert s.selected == set()
    s.select_all([4, 5])
    s.clear()
    assert s.selected == set()


def test_remove_completed_keeps_failures():
    """R3: successful batches leave the plan list, failures stay."""
    from parquet_merger_spark.operators.merge import BatchResult
    from parquet_merger_spark.plans.planner import MergePlan, remove_completed

    plans = [MergePlan(name=n) for n in ("a", "b", "c")]
    results = [
        BatchResult(name="a", output_path="/x/a", rows=10),
        BatchResult(name="b", output_path=None, rows=None, error="boom"),
        BatchResult(name="c", output_path="/x/c", rows=5),
    ]
    remaining = remove_completed(plans, results)
    assert [p.name for p in remaining] == ["b"]


def test_probe_schemas_concurrent_matches_serial(spark, tmp_path):
    """probe_schemas is the SAME probe overlapped, not a reimplementation:
    per-path results (including None for unreadable) must equal the serial
    loop's, in path order."""
    from parquet_merger_spark.sources.catalog import probe_schemas

    paths = []
    for i in range(7):
        paths.append(
            _write(
                tmp_path / f"f{i}.parquet",
                {"a": pd.Series(range(i + 1), dtype="int64"),
                 "b": pd.Series([f"s{i}"] * (i + 1))},
            )
        )
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet")
    paths.insert(3, str(bad))
    got = probe_schemas(spark, paths)
    want = [probe_schema(spark, p) for p in paths]
    assert got == want
    assert got[3] is None and all(s is not None for i, s in enumerate(got) if i != 3)
    # single-path fast path and empty input
    assert probe_schemas(spark, [paths[0]]) == [want[0]]
    assert probe_schemas(spark, []) == []


def test_merged_df_names_first_unreadable_in_path_order(spark, tmp_path):
    """With TWO unreadable files, the error names the first in PATH order —
    concurrency must not make the named file depend on completion order."""
    import pytest

    from parquet_merger_spark.operators.merge import merged_df
    from parquet_merger_spark.plans.schema import UnreadableSchemaError

    good = _write(tmp_path / "a_good.parquet", {"k": pd.Series([1], dtype="int64")})
    bad1 = tmp_path / "b_bad.parquet"
    bad1.write_bytes(b"junk1")
    bad2 = tmp_path / "c_bad.parquet"
    bad2.write_bytes(b"junk2")
    with pytest.raises(UnreadableSchemaError) as exc:
        merged_df(spark, [good, str(bad1), str(bad2)])
    assert "b_bad.parquet" in str(exc.value)


def _write_type_zoo(spark, tmp_path) -> list[str]:
    """One file per parquet type the arrow probe has to answer: the
    parity-pinned safe set, unsigned ints and ns timestamps (Spark-probe
    fallback or Spark refuses the file), a required field, an ns column
    under a Spark-schema footer, two Spark-written parts (INT96; a stored
    schema the parquet types cannot express) and a corrupt file.  Paths
    in write order; every file is named ``<case>.parquet`` except the
    Spark parts, which sit in directories ``int96`` and ``spark_stored``."""
    import datetime
    import decimal
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    cases = {
        "bool": pa.array([True, None], pa.bool_()),
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([1, None], pa.int16()),
        "i32": pa.array([1, None], pa.int32()),
        "i64": pa.array([1, None], pa.int64()),
        "f32": pa.array([1.5, None], pa.float32()),
        "f64": pa.array([1.5, None], pa.float64()),
        "str": pa.array(["a", None], pa.string()),
        "large_str": pa.array(["a", None], pa.large_string()),
        "bin": pa.array([b"a", None], pa.binary()),
        "date32": pa.array([datetime.date(2024, 1, 1)], pa.date32()),
        "date64": pa.array([datetime.date(2024, 1, 1)], pa.date64()),
        "ts_us": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us")),
        "ts_ms": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("ms")),
        "ts_us_utc": pa.array(
            [datetime.datetime(2024, 1, 1)], pa.timestamp("us", tz="UTC")
        ),
        "dec": pa.array([decimal.Decimal("1.23")], pa.decimal128(10, 2)),
        "list_i64": pa.array([[1, 2]], pa.list_(pa.int64())),
        "fsl_f32": pa.array([[1.0] * 4], pa.list_(pa.float32(), 4)),
        "struct": pa.array(
            [{"x": 1, "y": "a"}], pa.struct([("x", pa.int64()), ("y", pa.string())])
        ),
        "map": pa.array([[("a", 1)]], pa.map_(pa.string(), pa.int64())),
        # unsafe set: Spark-probe fallback territory
        "u8": pa.array([1], pa.uint8()),
        "u32": pa.array([1], pa.uint32()),
        "u64": pa.array([1], pa.uint64()),
        "ts_ns": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("ns")),
        "ts_ns_tz": pa.array(
            [datetime.datetime(2024, 1, 1)], pa.timestamp("ns", tz="UTC")
        ),
    }
    paths = []
    for name, arr in cases.items():
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({name: arr}), p)
        paths.append(p)
    # required (non-nullable) field: Spark's inference force-nullables it
    req = str(tmp_path / "required.parquet")
    sch = pa.schema([pa.field("r", pa.int64(), nullable=False)])
    pq.write_table(pa.table({"r": pa.array([1, 2], pa.int64())}).cast(sch), req)
    paths.append(req)
    # ns-INT64 under a footer that carries Spark's own schema: Spark reads
    # that schema instead of converting the column, so the arrow tier
    # must not answer it
    meta = str(tmp_path / "ts_ns_spark_schema.parquet")
    spark_schema = T.StructType([T.StructField("t", T.TimestampType())]).json()
    pq.write_table(
        pa.table({"t": cases["ts_ns"]}).replace_schema_metadata(
            {"org.apache.spark.sql.parquet.row.metadata": spark_schema}
        ),
        meta,
    )
    paths.append(meta)
    # legacy INT96 timestamp (Spark's own writer default)
    int96_dir = str(tmp_path / "int96")
    spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1), "x")], "ts timestamp, s string"
    ).coalesce(1).write.mode("overwrite").parquet(int96_dir)
    paths.append(glob.glob(f"{int96_dir}/part-*.parquet")[0])
    # Spark reads the schema its writer stored: intervals (stored as plain
    # ints) and a field comment (no parquet form) — Spark-probe fallback
    stored_dir = str(tmp_path / "spark_stored")
    spark.sql(
        "SELECT INTERVAL '1-2' YEAR TO MONTH AS ym,"
        " INTERVAL '1 2:03:04' DAY TO SECOND AS dt, 1 AS c"
    ).selectExpr("ym", "dt", "c").withMetadata("c", {"comment": "x"}).coalesce(
        1
    ).write.mode("overwrite").parquet(stored_dir)
    paths.append(glob.glob(f"{stored_dir}/part-*.parquet")[0])
    # corrupt file -> None from both
    bad = str(tmp_path / "corrupt.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"nope")
    paths.append(bad)

    return paths


def test_arrow_fast_probe_parity_type_zoo(spark, tmp_path, jobs_started):
    """The arrow fast probe must be a byte-identical shortcut: for every
    type in the zoo — safe-set types mapped directly, unsafe types
    (unsigned) via the Spark-probe fallback, top-level ns-INT64
    timestamps answered by the arrow tier itself — probe_schemas ==
    probe_schema under both nanosAsLong values, including None for files
    Spark itself refuses (ns-annotated INT64 by default) and for corrupt
    files."""
    from parquet_merger_spark.sources.catalog import probe_schemas

    paths = _write_type_zoo(spark, tmp_path)
    ns_paths = [str(tmp_path / f"{n}.parquet") for n in ("ts_ns", "ts_ns_tz")]
    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key, None)
    try:
        # ns-INT64 yields what the Spark probe does under each value: None
        # (Spark 4 rejects TIMESTAMP(NANOS)) or bigint (nanosAsLong=true)
        for nanos_as_long, ns_type in (("true", "bigint"), ("false", None)):
            spark.conf.set(key, nanos_as_long)
            fast = probe_schemas(spark, paths)
            slow = [probe_schema(spark, p) for p in paths]
            for p, f_, s_ in zip(paths, fast, slow):
                assert f_ == s_, (nanos_as_long, p, f_, s_)
            for p in ns_paths:
                got = slow[paths.index(p)]
                assert (got and got.fields[0].dataType.simpleString()) == ns_type

        # under default confs the arrow tier answers ns files with no JVM
        # probe, and the merge still names the first unreadable file
        spark.conf.unset(key)
        got = []
        assert jobs_started(lambda: got.extend(probe_schemas(spark, ns_paths))) == 0
        assert got == [None, None]
        with pytest.raises(UnreadableSchemaError, match="ts_ns.parquet"):
            merged_df(spark, ns_paths)
    finally:
        spark.conf.unset(key) if saved is None else spark.conf.set(key, saved)


def _outcome(read):
    """A read's schema, or the type of the exception it raised."""
    try:
        return read().schema
    except Exception as ex:  # noqa: BLE001 — the type is the outcome
        return type(ex)


def _spark_part(spark, rows, ddl, directory, name):
    """Write ``rows`` with Spark as one part and move it to ``directory``
    under ``name``; returns the new path."""
    import glob
    import shutil

    tmp = f"{directory}.{name}.w"
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(tmp)
    dst = os.path.join(directory, name)
    os.makedirs(directory, exist_ok=True)
    shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
    shutil.rmtree(tmp)
    return dst


def test_read_parquet_batch_schema_parity_no_job(spark, tmp_path, jobs_started):
    """read_parquet_batch reports exactly Spark's inferred schema and,
    where the arrow probe answers, starts no Spark job: every zoo file
    Spark can read, a flat directory whose first part (in path order,
    not write order) differs from the rest, and a two-path call whose
    first file in path order is the second argument — under both
    nanosAsLong values.  Files outside the pinned set take Spark's own
    inference, one job."""
    import glob

    from parquet_merger_spark.sources.catalog import read_parquet_batch

    (tmp_path / "zoo").mkdir()
    zoo = _write_type_zoo(spark, tmp_path / "zoo")
    fallback = {
        *(str(tmp_path / "zoo" / f"{n}.parquet") for n in ("u8", "u32", "u64")),
        str(tmp_path / "zoo" / "ts_ns_spark_schema.parquet"),
        *glob.glob(str(tmp_path / "zoo" / "spark_stored" / "part-*.parquet")),
    }
    parts = str(tmp_path / "parts")
    for name, rows, ddl in (
        ("part-00002.parquet", [(1, 2.5)], "a long, c double"),
        ("part-00001.parquet", [(1, 2.5)], "a long, c double"),
        ("part-00000.parquet", [(1, "x")], "a long, b string"),
    ):
        _spark_part(spark, rows, ddl, parts, name)
    # listed names Spark drops; both sort before the parts
    open(os.path.join(parts, "_SUCCESS"), "w").close()
    open(os.path.join(parts, ".part-00000.parquet.crc"), "w").close()
    two = [
        _write(tmp_path / "two" / "z" / "p.parquet", {"z": [1]}).rsplit("/", 1)[0],
        _write(tmp_path / "two" / "a.parquet", {"a": ["x"]}),
    ]
    cases = [[p] for p in zoo] + [[parts], two]

    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key, None)
    try:
        for nanos_as_long in ("true", "false"):
            spark.conf.set(key, nanos_as_long)
            readable = 0
            for paths in cases:
                want = _outcome(lambda: spark.read.parquet(*paths))
                if not isinstance(want, StructType):
                    continue  # Spark cannot read it: the fallback test's case
                readable += 1
                got = []
                jobs = jobs_started(
                    lambda: got.append(read_parquet_batch(spark, paths).schema)
                )
                assert got == [want], (nanos_as_long, paths)
                assert jobs == int(paths[0] in fallback), (nanos_as_long, paths)
            # all but the corrupt file, and the ns files by default
            assert readable == len(cases) - (1 if nanos_as_long == "true" else 3)
    finally:
        spark.conf.unset(key) if saved is None else spark.conf.set(key, saved)
    assert read_parquet_batch(spark, [parts]).columns == ["a", "b"]
    assert read_parquet_batch(spark, two).columns == ["a"]


def test_read_parquet_batch_fallbacks_match_spark(spark, tmp_path):
    """Where the first-file rule does not hold, or the arrow probe cannot
    answer, read_parquet_batch is plain ``spark.read.parquet``: the same
    schema, or the same exception type — a partitioned directory, a
    summary file, a streaming sink's log, an ns file under default
    confs, an empty directory, a corrupt file, mergeSchema on and NTZ
    inference off."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_merger_spark.sources.catalog import read_parquet_batch

    hive = str(tmp_path / "hive")
    spark.range(4).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(hive)
    summary = tmp_path / "summary"  # the data file sorts before the summary
    _write(summary / "A.parquet", {"x": [1]})
    pq.write_metadata(
        pa.schema([("x", pa.int64()), ("y", pa.string())]),
        str(summary / "_common_metadata"),
    )
    merged = tmp_path / "merged"
    _write(merged / "a.parquet", {"x": [1]})
    _write(merged / "b.parquet", {"y": ["s"]})
    naive = str(tmp_path / "naive.parquet")
    pq.write_table(
        pa.table({"t": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us"))}),
        naive,
    )
    ns = str(tmp_path / "ts_ns.parquet")
    pq.write_table(
        pa.table({"t": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("ns"))}),
        ns,
    )
    sink = tmp_path / "sink"  # a streaming sink's output: Spark lists its log
    _write(sink / "a.parquet", {"x": [1]})
    (sink / "_spark_metadata").mkdir()
    empty = tmp_path / "empty"
    empty.mkdir()
    corrupt = tmp_path / "corrupt.parquet"
    corrupt.write_bytes(b"nope")

    def same(paths, kind):
        want = _outcome(lambda: spark.read.parquet(*paths))
        assert isinstance(want, kind), (paths, want)
        assert _outcome(lambda: read_parquet_batch(spark, paths)) == want, paths
        return want

    assert "k" in same([hive], StructType).fieldNames()
    assert same([str(summary)], StructType).fieldNames() == ["x", "y"]
    same([str(sink)], type)  # the log lists no file
    same([str(empty)], type)
    same([str(corrupt)], type)
    # want None: Spark raises (INT64 TIMESTAMP(NANOS) is refused by default)
    for key, value, paths, want in (
        ("spark.sql.legacy.parquet.nanosAsLong", "false", [ns], None),
        ("spark.sql.parquet.mergeSchema", "true", [str(merged)], "struct<x:bigint,y:string>"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false", [naive], "struct<t:timestamp>"),
    ):
        saved = spark.conf.get(key, None)
        try:
            spark.conf.set(key, value)
            if want is None:
                same(paths, type)
            else:
                assert same(paths, StructType).simpleString() == want
        finally:
            spark.conf.unset(key) if saved is None else spark.conf.set(key, saved)


def test_persisted_index_job_pins(spark, tmp_path, jobs_started):
    """The persisted indexes keep their driver-side models out of Spark:
    write_gram_index and write_pq_index store theirs as a JSON file with
    no Spark job (2 jobs each), and load_gram_index and load_pq_index
    read it back, and their tables, with no job at all.  load_ivf_index starts 1: its centroids need no
    schema-inference job, its hive-partitioned vectors/ still do."""
    from parquet_merger_spark.operators.dedup import load_gram_index, write_gram_index
    from parquet_merger_spark.operators.simsearch import (
        load_ivf_index,
        load_pq_index,
        write_ivf_index,
        write_pq_index,
    )

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 5) for j in range(8)]) for i in range(16)],
        "vec_id long, embedding array<float>",
    )
    grams, pq, ivf = (str(tmp_path / d) for d in ("grams", "pq", "ivf"))
    assert jobs_started(lambda: write_gram_index(train, grams, shingle_words=3)) == 2
    assert jobs_started(lambda: write_pq_index(vecs, pq, m=4, n_codes=4, iters=1)) == 2
    write_ivf_index(vecs, ivf, nlist=2)

    assert jobs_started(lambda: load_gram_index(spark, grams)) == 0
    assert jobs_started(lambda: load_pq_index(spark, pq)) == 0
    assert jobs_started(lambda: load_ivf_index(spark, ivf)) == 1


def test_probe_schemas_distributed_tier_parity(spark, tmp_path):
    """The executor-side probe tier (mapInPandas + schema JSON) must be
    indistinguishable from the threaded tier: same results on a mixed
    safe/unsafe/corrupt/ns-timestamp set when the threshold forces the
    distributed path, including the per-file Spark-probe fallback
    residue, under both nanosAsLong values."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_merger_spark.sources.catalog import probe_schemas

    paths = []
    for i in range(5):
        paths.append(
            _write(
                tmp_path / f"ok{i}.parquet",
                {"a": pd.Series(range(3), dtype="int64"), "b": pd.Series(list("xyz"))},
            )
        )
    unsafe = str(tmp_path / "u64.parquet")
    pq.write_table(pa.table({"u": pa.array([1], pa.uint64())}), unsafe)
    paths.insert(2, unsafe)
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"junk")
    paths.insert(4, str(bad))

    ns = str(tmp_path / "ts_ns.parquet")
    pq.write_table(
        pa.table({"t": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("ns"))}),
        ns,
    )
    paths.append(ns)

    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key, None)
    try:
        for nanos_as_long, ns_type in (("false", None), ("true", "bigint")):
            spark.conf.set(key, nanos_as_long)
            via_dist = probe_schemas(spark, paths, distributed_threshold=2)
            via_threads = probe_schemas(spark, paths, distributed_threshold=10**9)
            serial = [probe_schema(spark, p) for p in paths]
            assert via_dist == via_threads == serial
            assert via_dist[4] is None  # corrupt
            # u64 widened
            assert via_dist[2].fields[0].dataType.simpleString() == "decimal(20,0)"
            got = via_dist[-1]
            assert (got and got.fields[0].dataType.simpleString()) == ns_type
    finally:
        spark.conf.unset(key) if saved is None else spark.conf.set(key, saved)


def test_arrow_probe_rejects_unpinned_leaf_logical_types(tmp_path):
    """ENUM-annotated BYTE_ARRAY converts to arrow `binary` (-> BinaryType)
    while Spark's converter reports StringType, so the arrow probe must
    refuse any leaf annotation outside the pinned zoo and take the
    Spark-probe fallback (advisor finding, r07).  No writer in this
    container can produce ENUM/BSON/UUID files (pyarrow has no API for
    them; Spark never writes them), so the guard is exercised directly
    with a stub parquet schema — the accept-side is covered for every
    writable annotation by the type-zoo parity test above."""
    from types import SimpleNamespace

    import pytest

    from parquet_merger_spark.sources.catalog import (
        _check_leaf_logical_types,
        _UnsafeForArrowProbe,
    )

    def fake_schema(*leaf_logical_types):
        cols = [
            SimpleNamespace(
                path=f"c{i}", logical_type=SimpleNamespace(type=lt)
            )
            for i, lt in enumerate(leaf_logical_types)
        ]
        class _S:
            def __len__(self):
                return len(cols)

            def column(self, i):
                return cols[i]

        return _S()

    # the full pinned set passes
    _check_leaf_logical_types(
        fake_schema("NONE", "STRING", "INT", "DECIMAL", "DATE", "TIMESTAMP")
    )
    # every known out-of-zoo annotation raises, naming type and column
    for bad in ("ENUM", "JSON", "BSON", "UUID", "FLOAT16", "INTERVAL", "UNKNOWN"):
        with pytest.raises(_UnsafeForArrowProbe, match=bad):
            _check_leaf_logical_types(fake_schema("STRING", bad))


def test_arrow_probe_disabled_under_nondefault_reader_confs(spark, tmp_path):
    """The arrow tier's parity is pinned under default parquet reader
    confs; with NTZ inference off, a tz-naive file probes as TimestampType
    (not ntz) — probe_schemas must follow the Spark probe, i.e. the
    shortcut must disable itself."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_merger_spark.sources.catalog import probe_schemas

    p = str(tmp_path / "naive.parquet")
    pq.write_table(
        pa.table({"t": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us"))}),
        p,
    )
    p2 = str(tmp_path / "other.parquet")
    pq.write_table(pa.table({"x": pa.array([1], pa.int64())}), p2)
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        fast = probe_schemas(spark, [p, p2])
        slow = [probe_schema(spark, q) for q in [p, p2]]
        assert fast == slow
        assert fast[0].fields[0].dataType.simpleString() == "timestamp"
    finally:
        spark.conf.set(key, saved)
    # defaults back: the shortcut returns and still matches
    assert probe_schemas(spark, [p, p2]) == [probe_schema(spark, q) for q in [p, p2]]
    assert probe_schemas(spark, [p])[0].fields[0].dataType.simpleString() == "timestamp_ntz"


def test_wide_schema_probe_and_intersection(spark, tmp_path):
    """Column-count axis: a 1500-column file probes correctly through the
    arrow tier (parity with the Spark probe), and the intersection merge
    of two wide files drops exactly the absent column, keeping first-file
    column order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_merger_spark.operators.merge import merged_df
    from parquet_merger_spark.sources.catalog import probe_schemas

    n_cols = 1500
    cols = {f"c{i:04d}": pa.array([i, i + 1], pa.int64()) for i in range(n_cols)}
    a = str(tmp_path / "wide_a.parquet")
    pq.write_table(pa.table(cols), a)
    cols_b = dict(cols)
    del cols_b["c0777"]  # one column absent from the second file
    b = str(tmp_path / "wide_b.parquet")
    pq.write_table(pa.table(cols_b), b)

    fast = probe_schemas(spark, [a, b])
    assert fast == [probe_schema(spark, a), probe_schema(spark, b)]
    assert len(fast[0].fields) == n_cols

    df = merged_df(spark, [a, b])
    assert len(df.columns) == n_cols - 1
    assert "c0777" not in df.columns
    # first-file order preserved minus the dropped column
    expected = [f"c{i:04d}" for i in range(n_cols) if i != 777]
    assert df.columns == expected
    assert df.count() == 4
