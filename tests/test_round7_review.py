"""Round-7 self-review fixes, pinned.

A high-effort review pass over sources/ and streaming/ (after the
operators/ pass that produced the degenerate-vector fixes in
test_round7_fixes.py) surfaced six defects; each gets a regression test
here so the fixed behavior is load-bearing, not incidental:

1. parquet_footer_stats used the Arrow TOP-LEVEL field index as a
   parquet LEAF index (wrong stats once a nested column precedes the
   target; IndexError when a file lacks the column).
2. read_binary_files' doc_id regex was unanchored to the stem start
   ('img42.png' -> spurious 42 instead of the documented null).
3. scan_folders deduped folder STRINGS only (folder + subfolder
   registration cataloged a file twice; smart_batch then merged the
   file with itself, duplicating every row).
4. stream_upsert_to_table never collapsed duplicate keys within a
   micro-batch (a keyed MERGE table with non-unique keys).
5. near-dedup: size(split(NULL)) is NULL, so null-text docs received
   no bucket at all — every re-delivery silently survived; and keying
   short docs on xxhash64(text) would funnel all null-text docs into
   one bucket (xxhash64(NULL) = the seed constant).
6. the int64 moment family: B = n*S2 - S1^2 folded in int64 wraps at
   the keys' own documented scale (~6e24 at sf125) — now decimal(38,0)
   Spark-side / HUGEINT oracle-side.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def test_footer_stats_resolve_leaf_index_past_nested_columns(spark, tmp_path):
    """A struct column BEFORE the target must not shift which leaf's
    statistics are read, and a file lacking the column gets a null
    envelope (conservatively kept by prune_files), never an IndexError."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_merger_spark.sources.stats import (
        parquet_footer_stats,
        prune_files,
    )

    nested = str(tmp_path / "nested.parquet")
    t = pa.table(
        {
            "a": [{"x": 999, "y": -999}, {"x": 998, "y": -998}],
            "b": [10, 20],
        }
    )
    pq.write_table(t, nested)
    missing = str(tmp_path / "missing.parquet")
    pq.write_table(pa.table({"a": [{"x": 1, "y": 2}]}), missing)

    stats = {
        r["file"]: r
        for r in parquet_footer_stats(spark, [nested, missing], "b").collect()
    }
    assert stats[nested]["vmin"] == 10 and stats[nested]["vmax"] == 20
    assert stats[missing]["vmin"] is None and stats[missing]["vmax"] is None
    # envelope [10,20] intersects [15,25]; the stats-less file is kept
    kept = prune_files(
        parquet_footer_stats(spark, [nested, missing], "b"), 15, 25
    )
    assert set(kept) == {nested, missing}


def test_binary_doc_id_requires_fully_numeric_stem(spark, tmp_path):
    """'img42.png' must yield null doc_id (non-numeric stem), '42.png'
    must yield 42 — a mid-stem match would join payloads to the wrong
    metadata rows."""
    from parquet_merger_spark.sources.binary import read_binary_files

    (tmp_path / "img42.png").write_bytes(b"\x89PNG")
    (tmp_path / "42.png").write_bytes(b"\x89PNG")
    got = {
        os.path.basename(r["path"]): r["doc_id"]
        for r in read_binary_files(spark, str(tmp_path)).collect()
    }
    assert got["42.png"] == 42 and got["img42.png"] is None


def test_scan_folders_dedups_physical_files_across_registrations(tmp_path):
    """Registering a folder and its subfolder must catalog each physical
    file once; a double entry would make smart_batch merge a file with
    itself and duplicate every row."""
    from parquet_merger_spark.sources.catalog import scan_folders

    sub = tmp_path / "sub"
    sub.mkdir()
    pd.DataFrame({"a": [1]}).to_parquet(str(sub / "x.parquet"))
    entries = scan_folders([str(tmp_path), str(sub)])
    assert len(entries) == 1, entries


def test_stream_upsert_collapses_intra_batch_duplicate_keys(spark, tmp_path):
    """One micro-batch carrying insert + correction for the same key must
    leave exactly one row for that key in the versioned table."""
    from parquet_merger_spark.streaming.events import upsert_batch_apply

    table = str(tmp_path / "table")
    batch = spark.createDataFrame(
        [(1, "zz-late"), (1, "aa-early"), (2, "only")], "k long, v string"
    )
    upsert_batch_apply(table, ["k"])(batch, 0)
    rows = {
        r["k"]: r["v"]
        for r in spark.read.parquet(os.path.join(table, "v" + "0" * 20)).collect()
    }
    # deterministic winner: max over the non-key struct
    assert rows == {1: "zz-late", 2: "only"}


def test_near_dedup_null_text_keyed_by_doc_id(spark, tmp_path):
    """Distinct null-text docs must BOTH survive (no content to compare),
    while a re-delivery of the same null-text doc is rejected — and
    null-text docs must reach the bucket store at all
    (size(split(NULL)) is NULL, failing both length filters)."""
    from parquet_merger_spark.streaming.events import (
        near_dedup_batch_apply,
        read_near_dedup_survivors,
    )

    table = str(tmp_path / "nd")
    apply_fn = near_dedup_batch_apply(table)
    b0 = spark.createDataFrame(
        [(1, None), (2, None), (3, "real document text here")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(1, None), (4, None)], "doc_id long, text string"
    )  # doc 1 re-delivered; doc 4 is new
    apply_fn(b0, 0)
    apply_fn(b1, 1)
    got = {r["doc_id"] for r in read_near_dedup_survivors(spark, table).collect()}
    assert got == {1, 2, 3, 4}, got  # doc 1 survives ONCE (batch 0 only)
    per_batch = [
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(table, "survivors", "b" + "0" * 19 + "1")).collect()
    ]
    assert per_batch == [4], per_batch  # the re-delivery of 1 was rejected


def test_skewness_moment_b_survives_int64_overflow(spark, tmp_path):
    """Values large enough that B = n*S2 - S1^2 exceeds 2^63: the key
    must return a finite skewness matching an independent numpy
    computation (pre-fix: int64 wrap -> ANSI overflow error or garbage)."""
    import math

    import numpy as np

    n = 200_000
    rng = np.random.default_rng(7)
    # $100k-ish values -> c ~ 1e7 cents -> n*s2 ~ 2e5 * 2e19 = 4e24 >> 2^63
    vals = np.round(rng.uniform(90_000, 110_000, n), 2)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01"),
            "user_id": np.zeros(n, dtype=np.int64),
            "event_type": "big",
            "value": vals,
            "props": "",
        }
    )
    sf_dir = str(tmp_path)
    pdf.to_parquet(os.path.join(sf_dir, "events.parquet"))

    from parquet_merger_spark.queries import QUERIES

    row = QUERIES["value_skewness_by_type"](spark, sf_dir).collect()[0]
    c = np.round(vals * 100).astype(object)  # exact python ints
    s1, s2, s3 = sum(c), sum(x * x for x in c), sum(x * x * x for x in c)
    a = s3 * n * n - 3 * s1 * s2 * n + 2 * s1**3
    b = n * s2 - s1 * s1
    assert b > 2**63  # the pre-fix wrap regime
    expect = round(float(a) / (math.sqrt(float(b)) * float(b)), 6)
    assert row["n"] == n
    assert math.isfinite(row["skewness"])
    assert abs(row["skewness"] - expect) < 1e-9, (row["skewness"], expect)


# --- operators/ review wave 2 (graph/textstats/sketches/incremental/
# ranking/sampling) -----------------------------------------------------------


def test_bloom_handles_non_multiple_of_64_bits(spark):
    """m_bits=1000: bits land in the top PARTIAL word (index 15); the
    pre-fix floor division dropped that word and true members tested
    negative — breaking the no-false-negative contract upsert_by_key's
    prefilter rides on."""
    from parquet_merger_spark.operators.sketches import (
        bloom_build,
        bloom_test_col,
    )

    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", m_bits=1000)
    probe = spark.range(0, 500).select(F.col("id").alias("k")).crossJoin(
        F.broadcast(bloom)
    )
    hits = probe.filter(
        bloom_test_col("words", "k", m_bits=1000)
    ).count()
    assert hits == 500  # every true member MUST test positive


def test_bloom_prefilter_upsert_with_awkward_bits_and_words_column(spark):
    """upsert_by_key(bloom_prefilter_bits=1000) on a base table that has
    its OWN 'words' column: result must equal the plain upsert (pre-fix:
    false negatives -> duplicate keys; 'words' collision -> ambiguous
    reference)."""
    from parquet_merger_spark.operators.incremental import upsert_by_key

    base = spark.createDataFrame(
        [(i, f"w{i}") for i in range(200)], "k long, words string"
    )
    updates = spark.createDataFrame(
        [(i, f"u{i}") for i in range(0, 200, 3)], "k long, words string"
    )
    plain = {(r["k"], r["words"]) for r in upsert_by_key(base, updates, ["k"]).collect()}
    bloomed = {
        (r["k"], r["words"])
        for r in upsert_by_key(
            base, updates, ["k"], bloom_prefilter_bits=1000
        ).collect()
    }
    assert bloomed == plain and len(plain) == 200


def test_binary_auc_single_class_returns_null_not_crash(spark):
    """AUC is undefined with one class present: NULL, never an ANSI
    DIVIDE_BY_ZERO."""
    from parquet_merger_spark.operators.textstats import binary_auc

    df = spark.createDataFrame([(i, 1) for i in range(10)], "score long, label int")
    row = binary_auc(df, "score", "label").collect()[0]
    assert row["n_neg"] == 0 and row["auc"] is None


def test_avg_token_len_ignores_whitespace_runs(spark):
    """' ab cd ' must average 2.0 (the raw-length formula said 3.0);
    'a  b' must average 1.0 (was 1.5)."""
    from parquet_merger_spark.operators.textstats import with_text_stats

    df = spark.createDataFrame([(1, " ab cd "), (2, "a  b")], "doc_id long, text string")
    got = {r["doc_id"]: r["avg_token_len"] for r in with_text_stats(df).collect()}
    assert got[1] == 2.0 and got[2] == 1.0, got


def test_salted_join_null_salt_keeps_matching_rows(spark):
    """A NULL salt expression must not drop a matching left row from an
    inner join (pmod(NULL, n) never equi-joins pre-fix)."""
    from parquet_merger_spark.operators.ranking import salted_join

    left = spark.createDataFrame([(1, None), (2, 7)], "k long, seed long")
    right = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    got = {
        (r["k"], r["v"])
        for r in salted_join(
            left, right, ["k"], F.col("seed"), n_salts=4
        ).collect()
    }
    assert got == {(1, "a"), (2, "b")}


def test_scd2_empty_tracked_cols_is_key_presence_history(spark):
    """tracked_cols=[] = key-presence-only history: one open version per
    key from its first snapshot (pre-fix: TypeError from reduce([]))."""
    from parquet_merger_spark.operators.incremental import scd2_from_snapshots

    snaps = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2)], "k long, snap_id int"
    )
    rows = scd2_from_snapshots(snaps, ["k"], []).collect()
    got = {(r["k"], r["valid_from"], r["valid_to"]) for r in rows}
    assert got == {(1, 1, None), (2, 2, None)}, got


def test_vq_quantiles_rejects_empty_or_degenerate_qs(spark):
    import pytest

    from parquet_merger_spark.operators.sketches import lower_rank, vq_quantiles

    sk = spark.createDataFrame([("x", 1, 2)], "scope string, v long, cnt long")
    with pytest.raises(ValueError):
        vq_quantiles(sk, ["scope"], [])
    with pytest.raises(ValueError):
        vq_quantiles(sk, ["scope"], [("p50", lower_rank(1, 0))])


# --- operators/ review wave 3 (profile/multimodal/bucketing/chunking/
# asof/merge/export/compaction) -----------------------------------------------


def test_corr_matrix_survives_int64_overflow_and_nulls_zero_variance(spark):
    """Square/cross sums past 2^63 must stay exact (decimal fold), and a
    zero-variance column yields corr NULL, never IEEE NaN."""
    import math

    from parquet_merger_spark.operators.profile import corr_matrix_exact

    n = 300_000
    big = spark.range(n).select(
        (F.col("id") % 1000 + 10_000_000).alias("x"),
        ((F.col("id") % 1000) * 2 + 20_000_000).alias("y"),
        F.lit(7).alias("const"),
    )
    rows = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in corr_matrix_exact(big, ["x", "y", "const"]).collect()
    }
    # sum(x*x) ~ 3e5 * 1e14 = 3e19 > 2^63: pre-fix ANSI overflow error
    assert abs(rows[("x", "y")] - 1.0) < 1e-9  # y is affine in x
    assert rows[("x", "const")] is None and rows[("y", "const")] is None


def test_sniff_modality_matches_ftyp_brand_not_box_size(spark):
    """A real-layout MP4 header (32-byte ftyp box) must classify video in
    BOTH the pandas and JVM paths; a length-prefixed record starting
    00 00 00 18 must NOT."""
    from parquet_merger_spark.operators.multimodal import (
        _sniff_modality,
        extract_payload_meta_expr,
    )

    mp4 = b"\x00\x00\x00\x20ftypisom" + b"\x00" * 8
    fake = b"\x00\x00\x00\x18" + b"AAAA" + b"\x00" * 8
    assert _sniff_modality(mp4) == "video"
    assert _sniff_modality(fake) == "unknown"
    df = spark.createDataFrame(
        [(1, bytearray(mp4)), (2, bytearray(fake))], "doc_id long, payload binary"
    )
    got = {r["doc_id"]: r["modality"] for r in extract_payload_meta_expr(df).collect()}
    assert got == {1: "video", 2: "unknown"}


def test_zorder_covering_rejects_odd_prefix_bits():
    import pytest

    from parquet_merger_spark.operators.bucketing import zorder_covering_buckets

    with pytest.raises(ValueError):
        zorder_covering_buckets((0, 3), (0, 3), bits=8, prefix_bits=5)


def test_frame_sample_plan_skips_zero_and_null_frame_counts(spark):
    """n_frames = 0 or NULL emits NO frames (pre-fix: a phantom frame 0
    a downstream decode would request of a zero-frame video)."""
    from parquet_merger_spark.operators.multimodal import frame_sample_plan

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, None), (4, 1)], "doc_id long, n_frames int"
    )
    got = sorted(
        (r["doc_id"], r["frame_idx"])
        for r in frame_sample_plan(df, every_n=4).collect()
    )
    assert got == [(1, 0), (1, 4), (1, 8), (4, 0)], got


def test_chunk_null_text_counts_zero_tokens(spark):
    """least() skips NULLs, so a NULL-text doc claimed a FULL
    chunk_tokens count pre-fix, inflating pack_sequences budgets."""
    from parquet_merger_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame([(1, None), (2, "a b c")], "doc_id long, text string")
    rows = {
        (r["doc_id"], r["chunk_idx"]): r["n_chunk_tokens"]
        for r in chunk_documents(df, chunk_tokens=2, overlap=0).collect()
    }
    assert rows[(1, 1)] == 0
    assert rows[(2, 1)] == 2 and rows[(2, 2)] == 1


def test_asof_join_rejects_colliding_right_cols(spark):
    import pytest

    from parquet_merger_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, "x")], "k long, ts long, value string")
    right = spark.createDataFrame([(1, 5, "y")], "k long, rts long, value string")
    with pytest.raises(ValueError, match="value"):
        asof_join(left, right, "k", "ts", "rts", ["value"])


def test_merge_batches_survives_raising_progress_callback(spark, tmp_path):
    """The 'failures are collected, not raised' contract extends to the
    observer: a throwing terminal callback must not discard results."""
    from parquet_merger_spark.operators.merge import MergePlan, merge_batches

    src = tmp_path / "src"
    for sub in ("a", "b"):
        (src / sub).mkdir(parents=True)
        pd.DataFrame({"v": [1, 2]}).to_parquet(str(src / sub / "t.parquet"))
    plan = MergePlan(
        name="t",
        paths=[str(src / "a" / "t.parquet"), str(src / "b" / "t.parquet")],
        schema_mismatch=False,
    )

    def bad_progress(p):
        raise RuntimeError("closed UI handle")

    results = merge_batches(
        spark, [plan], str(tmp_path / "out"), single_file=True,
        progress=bad_progress, max_concurrency=1,
    )
    assert len(results) == 1 and results[0].ok and results[0].rows == 4


# --- support-module review wave 4 (entry/oracle/session/CLI/tools) -----------


def test_canon_cell_handles_infinity():
    from parquet_merger_spark.oracle import canon_cell

    assert canon_cell(float("inf")) == "inf"
    assert canon_cell(float("-inf")) == "-inf"
    assert canon_cell(float("nan")) == "<null>"
    assert canon_cell(2.0) == "2.000000"


def test_canary_faults_fresh_pages_each_call():
    """Both probes must touch FRESH pages: the pre-fix heap allocation
    re-read already-faulted pages on the second call (~0s regardless of
    host state), blinding canary_ok to mid-sweep pathology."""
    from parquet_merger_spark.session import first_touch_canary_s

    a, b = first_touch_canary_s(64), first_touch_canary_s(64)
    assert a > 0.001 and b > 0.001, (a, b)


def test_cli_merge_threads_compression(spark, tmp_path):
    """--compression must reach the parquet writer (pre-fix: parsed,
    silently dropped, output always snappy)."""
    import pyarrow.parquet as pq

    from parquet_merger_spark.operators.merge import MergePlan, merge_batches

    src = tmp_path / "s"
    for sub in ("a", "b"):
        (src / sub).mkdir(parents=True)
        pd.DataFrame({"v": [1]}).to_parquet(str(src / sub / "t.parquet"))
    plan = MergePlan(
        name="t",
        paths=[str(src / "a" / "t.parquet"), str(src / "b" / "t.parquet")],
        schema_mismatch=False,
    )
    out = tmp_path / "o"
    merge_batches(spark, [plan], str(out), single_file=True, compression="zstd")
    meta = pq.ParquetFile(str(out / "merged" / "t.parquet")).metadata
    assert meta.row_group(0).column(0).compression.lower() == "zstd"


def test_next_round_numbers_past_committed_history_without_driver(tmp_path):
    """Fresh clone with committed locals but NO driver artifacts: number
    PAST the newest local round, never overwrite it."""
    from parquet_merger_spark.oracle import next_round

    (tmp_path / "CORRECTNESS_local_r07.json").write_text("{}")
    (tmp_path / "PLANS_r07.json").write_text("{}")
    assert next_round(str(tmp_path)) == 8
    # with the driver twin present, the same-round refresh rule applies
    (tmp_path / "CORRECTNESS_r06.json").write_text("{}")
    assert next_round(str(tmp_path)) == 7
