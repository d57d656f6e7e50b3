"""Materialization barriers: lineage cuts for iterative operators.

Iterative plans (connected components, pagerank, k-core peeling, BPE
merge rounds) must cut lineage each round or the plan doubles per
iteration.  Two Spark mechanisms exist:

- ``DataFrame.localCheckpoint`` — blocks stored on the executors that
  computed them, NON-replicated: fast (no FS round trip), but an
  executor loss makes the blocks irrecoverable (lineage is severed, so
  the job dies instead of recomputing).  The right default for
  local[n] and for short-lived clusters where retry-the-query is the
  recovery story.
- ``DataFrame.checkpoint`` — blocks written to the RELIABLE checkpoint
  directory (HDFS/object store): survives executor loss, costs a write
  + read per barrier.  The right choice for long multi-hour 100 TB jobs
  where losing hour 3 of 6 to one preempted executor is unacceptable.

:func:`materialize` picks automatically: reliable when the session has
a checkpoint dir configured (``spark.sparkContext.setCheckpointDir``),
local otherwise — so a cluster deployment opts in with ONE line at
session setup and every operator barrier in this package follows, no
per-operator plumbing (r09; the caveat was documented at
``operators/dedup.py`` since r07 but nothing honored it).

ACCUMULATION (r10, advisor finding): Spark never deletes reliable
checkpoint files by default — with a dir set, every per-iteration cut
(dedup_clusters / pagerank / k-core / BPE rounds) and every
per-micro-batch cut (``near_dedup_batch_apply``) leaves an ``rdd-*``
directory behind, growing the checkpoint dir without bound on long
jobs.  ``session.get_spark`` therefore sets
``spark.cleaner.referenceTracking.cleanCheckpoints=true``: the
ContextCleaner deletes a checkpoint's files once its RDD becomes
unreachable on the driver, which is one iteration later for every
barrier in this package (each round's frame replaces the previous
round's reference).  Sessions built elsewhere should set the same conf
— it is a SparkConf (context-creation-time) setting, not a runtime SQL
conf.  The final returned frame's checkpoint stays alive as long as the
caller holds the DataFrame, exactly as intended.

SHARED INTERMEDIATES: an operator that feeds one computed table to
several consumers (the dedup family's signature and shingle tables)
shares it through :func:`materialize_lazy`, never through a lazy
``persist``.  A persist leaves a CacheManager entry behind the call,
and under AQE every scan of the cached relation becomes its own
``TableCacheQueryStage`` with its own job.  A lazy LOCAL checkpoint is
computed once: concurrent consumer stages wait on the block lock, then
read the blocks, and each consumer is a plain ``LogicalRDD`` scan.
"Lazy" is partial: building the barrier runs the shuffle and broadcast
stages below it (AQE executes them to plan the RDD), so a frame that is
only built, never collected, still starts those jobs; the final stage
runs with the first action.  A lazy RELIABLE checkpoint has no such
lock: every consumer that runs before the checkpoint is written
recomputes the plan, and so does the write itself (a pandas UDF behind
a 3-consumer plan evaluated 16,000 rows for its 4,000 lazily, 4,000
eagerly; local[4]).  So with a checkpoint dir set, :func:`materialize`
checkpoints EAGERLY whatever ``eager`` says: one job up front, and
every consumer reads the files.

RELEASE: a local barrier's blocks stay until the ContextCleaner frees
them, after a JVM garbage collection.  An operator calls :func:`release`
on each barrier nothing it returns still reads (``dup_clusters``: each
finished round, then its edge and adjacency tables); ``pagerank_int``
releases none, since its lazy result reads them all.

``graph.triangle_count`` keeps the package's one persist (four tables,
unpersisted on exit): ported to released barriers it was still slower
at sf1 (warm, 4 cores: 49.7 s against 40.8 s, min of 3 alternating
processes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def reliable_checkpoints_enabled(df_or_spark) -> bool:
    """True when the session has a reliable checkpoint dir configured."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: reliable ``checkpoint`` when the session has
    a checkpoint dir (cluster opt-in), ``localCheckpoint`` otherwise.

    ``eager=False`` defers only the FINAL stage to the first action that
    touches the result: under AQE, ``localCheckpoint(eager=False)``
    builds the frame's RDD from the adaptive plan, which runs its
    shuffle and broadcast stages there and then.  It applies to the
    local mode only: a reliable checkpoint is always eager (see the
    module docstring)."""
    if reliable_checkpoints_enabled(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """:func:`materialize` with ``eager=False`` — a named partial so call
    sites can stay method-chained via ``.transform(materialize_lazy)``."""
    return materialize(df, eager=False)


def release(*dfs: DataFrame) -> None:
    """Free the blocks of checkpoint barriers now.  Each frame must BE a
    barrier (its analyzed plan a ``LogicalRDD``), else ``ValueError``
    before anything is freed.  Reading a released local barrier fails.
    A reliable barrier holds no blocks: its files stay until
    ``cleanCheckpoints`` (set by ``session.get_spark``) deletes them."""
    plans = [df._jdf.queryExecution().analyzed() for df in dfs]
    for plan in plans:
        if plan.nodeName() != "LogicalRDD":
            raise ValueError(f"not a checkpoint barrier: a {plan.nodeName()} plan")
    for df, plan in zip(dfs, plans):
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(plan.rdd().id(), True)


def barriers_of(df: DataFrame) -> list[DataFrame]:
    """The checkpoint barriers ``df``'s plan reads, as :func:`release`
    takes them: for a caller that owns every barrier below an
    operator's lazy output and no longer reads it."""
    spark = df.sparkSession
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    return [
        DataFrame(of_rows(spark._jsparkSession, leaf), spark)
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
    ]
