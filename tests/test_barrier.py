"""Shared-intermediate barrier pins: a table that several consumers read
through ``barrier.materialize_lazy`` is computed once, in both barrier
modes.

The reliable mode needs a checkpoint dir, which cannot be unset in the
shared pytest session, so it runs in a SUBPROCESS session.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from parquet_merger_spark.barrier import materialize_lazy  # noqa: E402

ROWS = 4000


def rows_evaluated(spark) -> int:
    """Rows a pandas UDF evaluates behind one ``materialize_lazy`` barrier
    read by three consumers, counted with an accumulator."""
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def doubled(s):
        seen.add(len(s))
        return s * 2

    m = spark.range(0, ROWS, 1, 2).select("id", doubled("id").alias("v"))
    m = m.transform(materialize_lazy)
    got = (
        m.select("v")
        .unionAll(m.select((F.col("v") + 1).alias("v")))
        .unionAll(m.select((F.col("v") + 2).alias("v")))
        .agg(F.count("*").alias("c"), F.sum("v").alias("s"))
        .collect()[0]
    )
    assert (got["c"], got["s"]) == (3 * ROWS, 3 * ROWS * (ROWS - 1) + 3 * ROWS)
    return seen.value


def test_lazy_local_barrier_runs_kernel_once(spark):
    """Local mode: concurrent consumers wait on the checkpoint's block
    lock and read its blocks; none recomputes the plan."""
    assert rows_evaluated(spark) == ROWS


def test_lazy_barrier_runs_shuffle_stages_at_build(spark, jobs_started):
    """A lazy local barrier defers only its final stage: building it runs
    the shuffle below it.  Build plus the first action still start no
    more jobs than that action over the same frame without the barrier."""
    from pyspark.sql import functions as F

    def frame():
        return spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()

    assert jobs_started(lambda: frame().transform(materialize_lazy)) >= 1
    plain = jobs_started(lambda: frame().collect())
    assert jobs_started(lambda: frame().transform(materialize_lazy).collect()) <= plain


def test_reliable_barrier_runs_kernel_once():
    """Reliable mode: with a checkpoint dir set the barrier checkpoints
    eagerly.  A lazy reliable checkpoint would evaluate the kernel once
    per consumer plus once for the checkpoint write."""
    with tempfile.TemporaryDirectory(prefix="pm_ckpt_") as ckpt:
        code = f"""
import sys
sys.path.insert(0, {ROOT!r})
sys.path.insert(0, {os.path.join(ROOT, "tests")!r})
from parquet_merger_spark.barrier import reliable_checkpoints_enabled
from parquet_merger_spark.session import get_spark
from test_barrier import rows_evaluated
spark = get_spark("pm-barrier-reliable", cpus=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.setCheckpointDir({ckpt!r})
assert reliable_checkpoints_enabled(spark)
print("EVALUATED", rows_evaluated(spark))
"""
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            timeout=300,
        )
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"EVALUATED {ROWS}" in out.stdout, out.stdout[-2000:]
