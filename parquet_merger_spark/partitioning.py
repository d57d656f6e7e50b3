"""Scale-adaptive input fan-out for CPU-heavy row-local stages.

A parquet scan's task count comes from file splits (``maxPartitionBytes``
/ row-group boundaries), not from the work per row: a corpus that fits in
one row group arrives as ONE task no matter how many cores the session
has, and every narrow operator chained on the scan — shingle builds,
signature kernels, decode UDFs — then runs single-threaded while the
rest of the cluster idles (the "input skew / one unsplittable file"
pathology, optimization guide §2.5; measured at sf0.1: the minhash
signature stage ran 6.3s on one task vs 1.2s spread over 32).

:func:`fan_out` is the guide's remedy ("repartition immediately after
the read"), made SCALE-ADAPTIVE: it round-robin-repartitions only when
the input's partition count is below the session's default parallelism.
At 100 TB a scan arrives as thousands of splits and the helper is a
structural no-op — no exchange is ever added on the path where it would
hurt.  Round-robin ``repartition(n)`` is retry-deterministic (Spark
sorts before round-robin partitioning, SPARK-23207) and every caller is
a row-local kernel whose downstream aggregations are
partitioning-independent (pinned by the DETERMINISM sweeps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# Logical operators that imply the frame is already shuffled (or
# explicitly partitioned) upstream: the single-file SCAN pathology
# fan_out exists to fix cannot survive them, and adding a round-robin
# Exchange on top of an already-exchanged frame is a full re-shuffle at
# scale.  Matched against the NODE NAMES of the analyzed plan (so
# "Repartition" also blocks RepartitionByExpression), never against its
# text, where a column named ``SortKey`` would read as a sort.
_FAN_OUT_BLOCKERS = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Repartition",  # also RepartitionByExpression
    "Deduplicate",
    "Intersect",
    "Except",
)


def fan_out(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Spread ``df`` across at least the session's default parallelism
    before a CPU-heavy row-local stage; no-op unless the frame is a
    narrow pipeline over a scan with fewer files than that (the
    guide-§2.5 "one unsplittable split" pathology this helper exists to
    fix — any real at-scale scan has more).

    The decision is driver-side plan inspection ONLY — analysis plus the
    session-cached file listing — NOT ``df.rdd.getNumPartitions()`` (the
    r10 shape): under AQE, ``.rdd`` forces ``getFinalPhysicalPlan()``,
    which eagerly SUBMITS and blocks on every upstream shuffle stage at
    plan-build time, and that shuffle output belongs to a throwaway
    QueryExecution — a caller fed a frame with an upstream Exchange
    silently executed its whole upstream pipeline TWICE (r10 advice,
    medium).  Two checks replace it:

    - the analyzed logical plan contains a shuffle-implying operator
      (join / aggregate / window / sort / repartition / distinct) ->
      no-op: the frame is already spread at the session's shuffle
      parallelism, and the pathology cannot survive an exchange;
    - otherwise the frame is a narrow pipeline over its scans, whose
      task count is the file-split count: ``len(df.inputFiles())`` below
      the target means too few splits, so repartition.  (Many tiny files
      CAN pack into fewer splits via ``maxPartitionBytes``, making the
      estimate high — but tiny inputs are exactly where a missed spread
      is cheap.)  A frame with no file scans at all (in-memory test
      relations) is returned unchanged.
    """
    if df.isStreaming:
        # micro-batch parallelism is the stream's own partitioning
        # concern (and listing semantics differ on streaming plans)
        return df
    target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    try:
        names = _node_names(df._jdf.queryExecution().analyzed())
        if any(b in name for name in names for b in _FAN_OUT_BLOCKERS):
            return df
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if n_files == 0 or n_files >= target:
        return df
    return df.repartition(target)


def _node_names(plan) -> list[str]:
    """The ``nodeName`` of every node in a JVM plan tree (one py4j call
    per node and per child list; subquery expressions are not walked)."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


def local_frame(spark, rows: list, schema) -> DataFrame:
    """A local Python list as a ONE-partition DataFrame.

    ``spark.createDataFrame(rows, schema)`` parallelizes the list over
    the session's default parallelism, so a one-row model table or a
    small lookup mapping is mostly empty slices: a write leaves an empty
    part file, and a broadcast runs a task, per extra slice."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def scaled_partitions(
    source: DataFrame,
    bytes_per_partition: int = 4 << 20,
    min_partitions: int | None = None,
) -> int:
    """Scale-adaptive partition count derived from ``source``'s
    optimizer size estimate: ``max(defaultParallelism,
    ceil(size / bytes_per_partition))``.

    Replaces fixed ``defaultParallelism * K`` repartition factors (r10
    verdict #7): a constant factor tuned for one scale is simultaneously
    too many tasks at sf0.1 (scheduling overhead, tiny checkpoint
    blocks) and too few at 100x that scale (the per-task state the
    factor existed to bound grows right back).  A bytes-per-partition
    target scales the count with the data instead.

    ``source`` should be a SCAN-ROOTED frame (the base table whose size
    drives the downstream volume): for file sources the optimizer
    estimate is the summed file size — one driver-side plan walk, no
    jobs, no ``.rdd`` (safe under AQE).  Joined/aggregated frames have
    estimate-quality statistics only; pass the base table, not the
    derived frame.
    """
    sess = source.sparkSession
    dp = sess.sparkContext.defaultParallelism
    floor = max(min_partitions or 0, dp)
    try:
        est = int(source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return floor
    # BigInt sentinel (unknown size) or nonsense estimates: stay at floor
    if est <= 0 or est > (1 << 62):
        return floor
    return max(floor, -(-est // bytes_per_partition))
