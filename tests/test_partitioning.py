"""``partitioning.fan_out`` decides from the analyzed plan's STRUCTURE:
column names that contain an operator name do not block the spread, and
a frame that is already shuffled is returned unchanged."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from parquet_merger_spark.partitioning import fan_out


def _one_file(spark, tmp_path, col):
    path = str(tmp_path / "one.parquet")
    pd.DataFrame({col: range(100)}).to_parquet(path, index=False)
    return spark.read.parquet(path)


@pytest.mark.parametrize("col", ["key", "SortKey", "JoinedAt"])
def test_fan_out_spreads_one_file_scan(spark, tmp_path, col):
    df = _one_file(spark, tmp_path, col)
    plan = fan_out(df, min_parallelism=4)._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "Repartition"
    assert plan.numPartitions() == 4


@pytest.mark.parametrize("col", ["key", "SortKey"])
def test_fan_out_leaves_shuffled_frames_alone(spark, tmp_path, col):
    df = _one_file(spark, tmp_path, col)
    joined = df.join(df.select(F.col(col).alias("k2")), F.col(col) == F.col("k2"))
    grouped = df.groupBy(col).count()
    assert fan_out(joined, min_parallelism=4) is joined
    assert fan_out(grouped, min_parallelism=4) is grouped
