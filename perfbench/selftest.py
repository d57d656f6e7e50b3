#!/usr/bin/env python3
"""Self-tests for the benchmark's generator and checkers (no Spark needed).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import sys
import tempfile
import unittest
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from checks import check_batch, check_query  # noqa: E402
from datagen import write_merge_tree, write_tables  # noqa: E402
from tracing import event_log_task_metrics  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    if os.path.isfile(root):
        with open(root, "rb") as fh:
            h.update(fh.read())
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_merge_tree_is_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            write_merge_tree(a, seed=7)
            write_merge_tree(b, seed=7)
            write_merge_tree(c, seed=8)
            self.assertEqual(_digest(a), _digest(b))
            self.assertNotEqual(_digest(a), _digest(c))

    def test_merge_tree_manifest_shape(self):
        with tempfile.TemporaryDirectory() as tmp:
            m = write_merge_tree(tmp, seed=3)
            specs = m["batches"].values()
            # 10 names: one in 4 drifts (ranks 0, 4, 8), one in 16 is nanosecond
            self.assertEqual(len(specs), 10)
            self.assertEqual(sum(s["mismatch"] for s in specs), 3)
            self.assertEqual(sum(s["fails"] for s in specs), 1)
            self.assertFalse(any(s["mismatch"] and s["fails"] for s in specs))
            for s in specs:
                self.assertEqual(s["files"], sorted(s["files"]))
                self.assertEqual(pq.read_schema(s["files"][0]).names, s["columns"])

    def test_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            rows = write_tables(a, sf=0.001, seed=1, text_seed=5)
            write_tables(b, sf=0.001, seed=1, text_seed=5)
            write_tables(c, sf=0.001, seed=2, text_seed=5)
            self.assertEqual(_digest(a), _digest(b))
            self.assertNotEqual(_digest(a), _digest(c))
            self.assertEqual(rows["lineitem"], 6000)
            for t in ("documents", "embeddings"):  # text tables follow text_seed only
                self.assertEqual(_digest(os.path.join(a, f"{t}.parquet")),
                                 _digest(os.path.join(c, f"{t}.parquet")))


class BatchCheckTest(unittest.TestCase):
    """check_batch accepts a right output and rejects each corruption."""

    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.dir = self._tmp.name
        self.spec = {"rows": [3, 2], "columns": ["seq", "v"]}
        self.table = pa.table({"seq": np.array([0, 1, 2, 10, 11]), "v": list("abcde")})

    def tearDown(self):
        self._tmp.cleanup()

    def _result(self, table, csv_rows=None, header=None, rows=5):
        path = os.path.join(self.dir, "b.parquet")
        pq.write_table(table, path)
        with open(os.path.join(self.dir, "b.csv"), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(header or table.column_names)
            w.writerows(csv_rows if csv_rows is not None else table.to_pandas().values.tolist())
        return SimpleNamespace(ok=True, error=None, rows=rows, output_path=path)

    def test_accepts_right_output(self):
        self.assertIsNone(check_batch(self._result(self.table), self.spec))

    def test_rejects_dropped_row(self):
        res = self._result(self.table.slice(0, 4), rows=4)
        self.assertIn("rows", check_batch(res, self.spec))

    def test_rejects_extra_column(self):
        res = self._result(self.table.append_column("extra", pa.array([1] * 5)))
        self.assertIn("columns", check_batch(res, self.spec))

    def test_rejects_wrong_order(self):
        res = self._result(self.table.take([0, 1, 3, 2, 4]))
        self.assertIn("order", check_batch(res, self.spec))

    def test_rejects_short_csv(self):
        res = self._result(self.table, csv_rows=[[0, "a"]])
        self.assertIn("csv", check_batch(res, self.spec))

    def test_rejects_failed_batch(self):
        res = SimpleNamespace(ok=False, error="Cannot read schema", rows=None, output_path=None)
        self.assertIn("failed", check_batch(res, self.spec))


class SpecTest(unittest.TestCase):
    """Every per-layer name the traced run fills is listed in BENCHMARK.json
    (a name missing there would be dropped from the output)."""

    def test_per_layer_names_cover_families_and_keys(self):
        import workloads

        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            names = {m["name"] for m in json.load(fh)["per_layer"]}
        stats = ("build_s", "exec_s", "jobs", "tasks", "task_cpu_s", "gc_s",
                 "shuffle_bytes", "spill_bytes")
        for fam in set(workloads.QUERY_KEYS.values()):
            self.assertTrue({f"{fam}.{s}" for s in stats} <= names, fam)
        for k in workloads.INDEX_KEYS:
            self.assertIn(f"{workloads.QUERY_KEYS[k]}.index_build_s", names)
        for k in workloads.KEY_METRICS:
            self.assertTrue({f"key.{k}.wall_s", f"key.{k}.jobs"} <= names, k)


class QueryCheckTest(unittest.TestCase):
    """check_query accepts the expected hash and rejects a changed output."""

    def setUp(self):
        from parquet_merger_spark.oracle import canon_hash

        self.df = pd.DataFrame({"a": [1, 2, 3], "b": [0.5, 1.5, None]})
        self.want = canon_hash(self.df)

    def test_accepts_right_output_in_any_order(self):
        self.assertIsNone(check_query(self.df.iloc[::-1][["b", "a"]], self.want, "oracle"))

    def test_rejects_dropped_row(self):
        self.assertIn("differs", check_query(self.df.iloc[:2], self.want, "oracle"))

    def test_rejects_changed_value(self):
        self.assertIn("differs", check_query(self.df.assign(b=[0.5, 1.25, None]),
                                             self.want, "oracle"))

    def test_rejects_wrong_hash(self):
        self.assertIn("differs", check_query(self.df, "0" * 64, "oracle"))

    def test_rejects_missing_hash(self):
        self.assertIn("no expected hash", check_query(self.df, None, "recorded hash"))


class EventLogTest(unittest.TestCase):
    """Task metrics are read from a single-file log and from a rolling
    log directory alike, and a stage's tasks count for the first job that
    lists it."""

    EVENTS = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 500,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor CPU Time": 1e9, "Memory Bytes Spilled": 7,
                          "Disk Bytes Spilled": 3}},
    ]

    def _read(self, rel_path):
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, rel_path)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.writelines(json.dumps(ev) + "\n" for ev in self.EVENTS)
            with open(os.path.join(os.path.dirname(path), ".crc"), "wb") as fh:
                fh.write(b"\x00\x01 not json")
            return event_log_task_metrics(tmp)

    def test_single_file_and_rolling_logs(self):
        for rel in ("local-1700000000000", "eventlog_v2_local-1/events_1_local-1"):
            per_job, n = self._read(rel)
            self.assertEqual(n, 2, rel)
            self.assertEqual(per_job[0], {"task_cpu_s": 2.0, "gc_s": 0.5,
                                          "shuffle_bytes": 100, "spill_bytes": 0})
            self.assertEqual(per_job[1]["task_cpu_s"], 1.0)
            self.assertEqual(per_job[1]["spill_bytes"], 10)


if __name__ == "__main__":
    unittest.main()
