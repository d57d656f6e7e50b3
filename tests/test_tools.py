"""The measurement tools' shared helpers, without a Spark session:
artifact writing and numbered slots, the oracle compare row, and an
import smoke test of every script under tools/ plus bench.py (no other
test imports them, so a broken import would otherwise go unnoticed)."""

from __future__ import annotations

import glob
import importlib
import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
sys.path.insert(0, ROOT)
sys.path.insert(0, TOOLS)

from artifact import free_slot, write_artifact  # noqa: E402

from parquet_merger_spark.oracle import compare_frames  # noqa: E402


def _load(path) -> dict:
    with open(path) as fh:
        return json.load(fh)


def test_write_artifact_keeps_every_version(tmp_path):
    path = str(tmp_path / "X_r01.json")
    assert write_artifact(path, {"a": 1}) == ""
    assert _load(path) == {"a": 1}
    # same JSON: a no-op, nothing displaced
    assert write_artifact(path, {"a": 1}) == ""
    assert sorted(os.listdir(tmp_path)) == ["X_r01.json"]
    # changed: the standing file moves to _prev1, then _prev2
    assert write_artifact(path, {"a": 2}) == str(tmp_path / "X_r01_prev1.json")
    assert write_artifact(path, {"a": 3}) == str(tmp_path / "X_r01_prev2.json")
    assert _load(path) == {"a": 3}
    assert _load(tmp_path / "X_r01_prev1.json") == {"a": 1}
    assert _load(tmp_path / "X_r01_prev2.json") == {"a": 2}


def test_free_slot_takes_first_absent_number(tmp_path):
    base = str(tmp_path / "B_r03.json")
    assert free_slot(base, "rejected") == str(tmp_path / "B_r03_rejected1.json")
    (tmp_path / "B_r03_rejected1.json").write_text("{}")
    (tmp_path / "B_r03_rejected2.json").write_text("{}")
    # another tag's slots do not count
    (tmp_path / "B_r03_smoke3.json").write_text("{}")
    assert free_slot(base, "rejected") == str(tmp_path / "B_r03_rejected3.json")
    assert free_slot(base, "smoke") == str(tmp_path / "B_r03_smoke1.json")


def test_write_round_subset_merges_only_into_a_standing_artifact(
    tmp_path, monkeypatch
):
    import keyrun

    monkeypatch.setattr(keyrun, "ROOT", str(tmp_path))
    (tmp_path / "CORRECTNESS_r01.json").write_text("{}")  # round 2 is open
    path = str(tmp_path / "X_r02.json")
    # a key subset never stands in for the full sweep
    assert keyrun.write_round("X", {"k": 1}, subset=True) == "(key subset, not written)"
    assert not os.path.exists(path)
    assert keyrun.write_round("X", {"j": 1, "k": 1}) == path
    # a later subset's rows land in the standing artifact
    assert keyrun.write_round("X", {"k": 2}, subset=True) == path
    assert _load(path) == {"j": 1, "k": 2}
    assert _load(tmp_path / "X_r02_prev1.json") == {"j": 1, "k": 1}


def test_compare_frames_row_mismatch():
    row = compare_frames(pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [1]}))
    assert row == {
        "rows_match": False,
        "schema_match": True,
        "hash_match": False,
        "spark_rows": 2,
        "oracle_rows": 1,
    }


def test_compare_frames_column_mismatch():
    row = compare_frames(pd.DataFrame({"a": [1]}), pd.DataFrame({"b": [1]}))
    assert row["rows_match"] and not row["schema_match"]
    assert row["hash_match"] is False


def test_compare_frames_match_across_float_formatting():
    # the same float values, differing only past the 10-significant-digit
    # canonical rendering (0.1 + 0.2 vs 0.3) or in how an integral float
    # was spelled (3 vs 3.0), in another row and column order
    sdf = pd.DataFrame({"k": [1, 2], "x": [3.0, 0.1 + 0.2]})
    ddf = pd.DataFrame({"x": [0.3, 3], "k": [2, 1]})
    assert compare_frames(sdf, ddf) == {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 2,
        "oracle_rows": 2,
    }


@pytest.mark.parametrize(
    "module",
    ["bench"]
    + sorted(
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(TOOLS, "*.py"))
    ),
)
def test_script_imports(module):
    importlib.import_module(module)
