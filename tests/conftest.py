from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_merger_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pm-tests", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory, spark):
    """Synthesize the FIXTURES.md §B merge-semantics parquet pairs."""
    import pandas as pd

    root = tmp_path_factory.mktemp("merge_fixtures")

    def w(relpath: str, pdf: pd.DataFrame):
        path = root / relpath
        path.parent.mkdir(parents=True, exist_ok=True)
        pdf.to_parquet(path, index=False)
        return str(path)

    key = pd.Series(range(100), dtype="int64")
    name = key.map(lambda i: f"name_{i}")
    val = key * 1.5

    files = {
        "compat_a": w("compat/a.parquet", pd.DataFrame({"key": key, "name": name, "val": val})),
        "compat_b": w("compat/b.parquet", pd.DataFrame({"key": key + 100, "name": name, "val": val + 1})),
        "reordered": w("reorder/b.parquet", pd.DataFrame({"name": name, "key": key, "val": val})),
        "subset_super": w("subset/a.parquet", pd.DataFrame({"key": key, "name": name, "val": val, "extra": name})),
        "type_conflict": w(
            "types/b.parquet",
            pd.DataFrame({"key": key.astype("int32"), "name": name, "val": val}),
        ),
        "no_common_a": w("nocommon/a.parquet", pd.DataFrame({"a": key})),
        "no_common_b": w("nocommon/b.parquet", pd.DataFrame({"b": name})),
        "internal_cols": w(
            "internal/a.parquet",
            pd.DataFrame({"key": key, "val": val, "__index_level_0__": key}),
        ),
    }
    return root, files


@pytest.fixture
def jobs_started(spark):
    """``count(fn)``: how many Spark jobs the application starts while
    ``fn()`` runs — the status tracker's ungrouped job ids, read after the
    listener bus has delivered every event."""
    sc = spark.sparkContext

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def count(fn) -> int:
        before = job_ids()
        fn()
        return len(job_ids() - before)

    return count
