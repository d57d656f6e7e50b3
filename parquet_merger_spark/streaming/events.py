"""Structured Streaming operators over the events table (stream-shaped:
event_id, ts, user_id, event_type, value, props-json).

The reference is strictly batch (SURVEY §2.9); these are the extension
operators a continuously-ingesting pipeline needs.  Each streaming query
has a batch twin with identical semantics (same logical plan minus the
watermark) so correctness is oracle-checkable in batch mode and the
streaming wiring is smoke-tested with the file source + memory sink.

Scale notes: tumbling/sliding windows + watermark keep state bounded by
(window span / slide) x keys; late data beyond the watermark is dropped
deterministically.  File-source streaming here stands in for Kafka — the
transformations are source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from parquet_merger_spark.barrier import materialize, materialize_lazy
from parquet_merger_spark.sources.catalog import read_parquet_batch

# STREAM_LATENCY_r09 measured the per-batch addBatch wall of the
# stream-stream interval join against the number of state partitions:
# 539 ms @ 1, 533 @ 2, 518 @ 4, 688 @ 8, 1284 @ 16 — a flat floor through
# 4 and a linear ~+50 ms/partition state-store commit tax beyond it.
# Stateful queries take their state partition count from
# spark.sql.shuffle.partitions AT FIRST START (pinned into the
# checkpoint's offset log and reused on every restart), so inheriting the
# session default (32 here, commonly 200+ on clusters) silently taxes
# every micro-batch of the query's whole life.  The stateful constructors
# below therefore default to the measured sweet spot; pass
# ``state_partitions=None`` to inherit the session conf (appropriate when
# per-key state is far larger than this engine's bench shapes — more
# partitions then buy parallel commit + smaller per-store footprint).
DEFAULT_STATE_PARTITIONS = 4


class _pin_state_partitions:
    """Set ``spark.sql.shuffle.partitions`` around a streaming query
    START and restore it on exit.  Safe and narrow: ``start()`` clones
    the SparkSession synchronously (StreamExecution's session-for-stream),
    so the running query keeps the pinned value while the caller's
    session conf is restored for concurrent work — the same
    no-session-global contract as ``graph.triangle_count``'s hint, which
    has no repartition-shaped alternative here because the state
    partition count is only ever read from the session conf.  No-op when
    ``n`` is None; a restart on an EXISTING checkpoint ignores the value
    by Spark's own contract (state partitioning is immutable per
    checkpoint)."""

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        if self.n is not None:
            self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        if self.n is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)
        return False


def _windowed_agg(df: DataFrame, window: str, slide: str | None) -> DataFrame:
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        df.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_event_counts_batch(
    events: DataFrame, window: str = "1 hour", slide: str | None = None
) -> DataFrame:
    """Batch twin of the streaming windowed aggregate (same plan, no
    watermark) — used by the DuckDB oracle check."""
    return _windowed_agg(events, window, slide)


def windowed_event_counts_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    query_name: str = "windowed_events",
    output_mode: str = "update",
    available_now: bool = False,
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """File-source streaming windowed aggregate -> memory sink.

    ``available_now=True`` runs with ``Trigger.AvailableNow`` — process
    everything currently present (still rate-limited into micro-batches
    by ``maxFilesPerTrigger``) and then STOP on its own: the production
    catch-up pattern.  Wait with ``query.awaitTermination(timeout)``
    instead of ``processAllAvailable()``.

    Watermark bounds state: windows older than (max event time - watermark)
    finalize and EVICT from the state store.  That claim is only true in
    ``update``/``append`` output modes — ``complete`` mode retains every
    window forever, so it is deliberately not the default here:

    - ``update`` (default): emit changed windows each trigger; state for
      windows below the watermark is dropped.
    - ``append``: emit each window exactly once, when the watermark passes
      its end (the mode the smoke test uses to compare against the batch
      twin).

    ``query.processAllAvailable()`` drains the directory synchronously for
    tests."""
    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    agg = _windowed_agg(stream.withWatermark("ts", watermark), window, slide)
    writer = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    with _pin_state_partitions(spark, state_partitions):
        return writer.start()


def session_window_agg(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user sessions via Spark's native ``session_window`` — the SAME
    expression works in batch and streaming (this is the streaming twin the
    sessionize_batch docstring promises).  A session extends while
    consecutive events are < gap apart; session end = last event + gap.

    Returns one row per session: user_id, session_start, session_end
    (start/end are the session_window bounds), n_events.

    Note the boundary difference vs :func:`sessionize_batch`: an event at
    exactly ``gap`` after the previous one starts a NEW session here
    (window bounds are half-open), while the lag-based idiom keeps it
    (breaks only when diff > gap).  Both are valid contracts; this one is
    what Structured Streaming's state store implements natively.
    """
    return (
        events.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def session_window_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    query_name: str = "session_windows",
    output_mode: str = "append",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """Streaming sessionization: the native ``session_window`` aggregate
    over a file source, watermark-bounded state, memory sink.  Identical
    logical plan to :func:`session_window_agg` plus the watermark.

    ``output_mode`` defaults to ``append`` (emit each session once its
    watermark closes) because Spark REJECTS ``update`` for streaming
    session-window aggregations — sessions merge as events arrive, which
    update mode's keyed-row contract can't express
    (STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION on 4.1.2); ``complete``
    is the other accepted mode."""
    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    agg = session_window_agg(stream.withWatermark("ts", watermark), gap_minutes)
    with _pin_state_partitions(spark, state_partitions):
        return (
            agg.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def streaming_distinct_events(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
    query_name: str = "distinct_events",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """Streaming dedup: drop re-deliveries of the same event (at-least-once
    sources re-emit) using ``dropDuplicatesWithinWatermark`` — state holds
    only keys younger than the watermark, so memory is bounded by
    (event rate x watermark horizon), not the full history.  Exactly the
    operator an ingestion pipeline puts in front of every downstream
    aggregate."""
    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )
    with _pin_state_partitions(spark, state_partitions):
        return (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def enrich_with_dim_batch(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Batch twin of :func:`enrich_stream`: left join onto a broadcast
    dimension table."""
    return events.join(F.broadcast(dim), on=key, how="left")


def enrich_stream(
    spark: SparkSession,
    events_dir: str,
    dim: DataFrame,
    checkpoint_dir: str,
    key: str = "user_id",
    query_name: str = "enriched_events",
) -> StreamingQuery:
    """STREAM-STATIC join: enrich each event with a dimension row (user
    profile, source registry, ...) as it arrives.

    Scale design: stream-static joins are STATELESS — no watermark, no
    join state store; each micro-batch hash-joins against the current
    dim snapshot, and broadcasting the (small) dim keeps it shuffle-free
    per batch.  The static side is re-planned per micro-batch, so a dim
    backed by a table picks up slowly-changing updates without restarts.
    This is the enrichment shape every ingestion pipeline needs before
    aggregation (the batch twin :func:`enrich_with_dim_batch` is the
    oracle-checkable contract)."""
    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    enriched = enrich_with_dim_batch(stream, dim, key)
    return (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def correlate_events_batch(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "view",
    horizon_minutes: int = 30,
) -> DataFrame:
    """Batch twin of :func:`correlate_streams`: pairs of (left, right)
    events by the same user where the right event follows the left within
    ``horizon_minutes`` (exclusive start, inclusive end)."""
    left = events.filter(F.col("event_type") == left_type).select(
        F.col("user_id"),
        F.col("event_id").alias("left_id"),
        F.col("ts").alias("left_ts"),
    )
    right = events.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
    )
    cond = (
        (left["user_id"] == right["r_user_id"])
        & (right["right_ts"] > left["left_ts"])
        & (
            right["right_ts"]
            <= left["left_ts"] + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return left.join(right, cond, "inner").select(
        "user_id", "left_id", "right_id", "left_ts", "right_ts"
    )


def correlate_streams(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    left_type: str = "click",
    right_type: str = "view",
    horizon_minutes: int = 30,
    watermark: str = "2 hours",
    query_name: str = "correlated_events",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """STREAM-STREAM interval join: correlate each ``left_type`` event
    with the same user's ``right_type`` events in the following
    ``horizon_minutes`` (attribution, funnel steps, cause→effect pairs).

    Scale design: both sides carry a watermark and the join condition
    bounds event-time distance, so the state store holds only rows inside
    (watermark + horizon) — state is O(rate × horizon), not the full
    history.  Without the time bound Spark would have to buffer both
    streams forever; this is THE pattern that makes stream-stream joins
    bounded.  Inner join in append mode emits each pair exactly once."""
    schema = read_parquet_batch(spark, [events_dir]).schema

    def side() -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_dir)
            .withWatermark("ts", watermark)
        )

    left = side().filter(F.col("event_type") == left_type).select(
        F.col("user_id"),
        F.col("event_id").alias("left_id"),
        F.col("ts").alias("left_ts"),
    )
    right = side().filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
    )
    cond = (
        (left["user_id"] == right["r_user_id"])
        & (right["right_ts"] > left["left_ts"])
        & (
            right["right_ts"]
            <= left["left_ts"] + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    joined = left.join(right, cond, "inner").select(
        "user_id", "left_id", "right_id", "left_ts", "right_ts"
    )
    # this is the operator STREAM_LATENCY_r09 measured: 518 ms/batch at
    # the 4-partition default vs 1284 ms at 16 — the knob is applied
    # HERE, where the first checkpoint is created, because that is the
    # only moment the state partition count is choosable
    with _pin_state_partitions(spark, state_partitions):
        return (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def stream_to_parquet(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    transform=None,
) -> StreamingQuery:
    """Production-shaped streaming pipeline: file source -> optional
    row-level transform -> PARQUET sink with checkpointed exactly-once
    semantics (the memory sinks elsewhere are test instruments; this is
    the sink a real ingestion job runs).  Restarting from the same
    checkpoint never duplicates or drops a batch — Spark's file-sink
    commit log records exactly which files each batch wrote."""
    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    if transform is not None:
        stream = transform(stream)
    return (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def user_running_totals_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "user_totals",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """CUSTOM stateful streaming operator via ``applyInPandasWithState``:
    per-user lifetime running totals (event count + value sum), emitted on
    every update.  This is the shape built-in windowed aggregates can't
    express — arbitrary per-key state mutated by arbitrary Python logic
    (the same harness carries online featurization, CUSUM drift detectors,
    per-entity model state...).

    State is one (count, sum) pair per user — O(distinct keys), Arrow-
    batched per group per micro-batch.  Emissions are monotone in
    n_events, so the latest row per user is identifiable downstream
    without ordering metadata.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, v double"

    def update_totals(key, pdfs, state: GroupState):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [v]}
        )

    totals = stream.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with _pin_state_partitions(spark, state_partitions):
        return (
            totals.writeStream.outputMode("update")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def drift_cusum_stream(
    spark: SparkSession,
    events_dir: str,
    stats: dict,
    checkpoint_dir: str,
    query_name: str = "drift_cusum_stream",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """STREAMING CUSUM drift detection — the production shape of the
    batch ``drift_cusum`` key: per-event-type running sums of
    mean-centered values maintained as ``applyInPandasWithState`` state
    across micro-batches, flags emitted per event as it arrives.

    ``stats`` maps event_type -> (mu, threshold) from a CALIBRATION
    pass (a batch aggregate over the baseline window — at 100 TB the
    stats table is model-sized and rides the serialized closure; the
    stream never re-aggregates history).  State per key is ONE float
    (the unrounded running sum) — O(distinct types), the smallest
    possible stateful footprint.

    Determinism contract (same as the batch twin, which a DuckDB oracle
    certifies): events arrive in event-time-ordered micro-batches and
    are sorted (ts, event_id) within each batch, so the accumulation
    order is the batch window's total order; the carry stays unrounded
    while each emitted cusum rounds with the ENGINES' semantics —
    HALF_UP over the shortest decimal repr (``Decimal(repr(c))``),
    matching Spark ``F.round`` / DuckDB ``round`` — not Python's
    ``round()``, whose half-even over the exact binary value diverges
    on carries whose shortest repr terminates in a 5 at the 7th
    decimal.  Sequential float adds in identical order are identical
    IEEE doubles, so the full replay equals the one-shot batch result
    row-for-row.

    Event types absent from the calibration ``stats`` (post-calibration
    novel types — expected in production) pass through UNFLAGGED
    (mu=0, threshold=+inf): the cusum still accumulates raw values so
    the signal exists once the type is calibrated, but no drift fires
    off an uncalibrated baseline."""
    import decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )

    out_schema = (
        "event_id long, event_type string, cusum double, drifted boolean"
    )
    state_schema = "carry double"

    six = decimal.Decimal("1e-6")

    def _round6(x: float) -> float:
        # Spark F.round / DuckDB round semantics: HALF_UP on the
        # shortest decimal repr, not Python round's half-even on the
        # exact binary value
        return float(
            decimal.Decimal(repr(x)).quantize(
                six, rounding=decimal.ROUND_HALF_UP
            )
        )

    def update_cusum(key, pdfs, state: GroupState):
        etype = key[0]
        mu, thresh = stats.get(etype, (0.0, float("inf")))
        (carry,) = state.get if state.exists else (0.0,)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        ids, cusums, flags = [], [], []
        for eid, v in zip(pdf["event_id"], pdf["value"]):
            carry = carry + (float(v) - mu)
            c = _round6(carry) + 0.0
            ids.append(int(eid))
            cusums.append(c)
            flags.append(abs(c) > thresh)
        state.update((carry,))
        yield pd.DataFrame(
            {
                "event_id": ids,
                "event_type": etype,
                "cusum": cusums,
                "drifted": flags,
            }
        )

    scored = stream.groupBy("event_type").applyInPandasWithState(
        update_cusum,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with _pin_state_partitions(spark, state_partitions):
        return (
            scored.writeStream.outputMode("append")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization (batch): per-user sessions split on inactivity gaps.

    Window(lag) + cumulative-sum-of-gap-breaks — the standard Spark idiom;
    the native streaming twin is :func:`session_window_agg`.  Returns one
    row per session: user_id, session_id, session_start, session_end,
    n_events.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    with_break = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    with_id = with_break.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        with_id.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .withColumnRenamed("session_seq", "session_id")
    )


def stream_upsert_to_table(
    spark: SparkSession,
    events_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
) -> StreamingQuery:
    """Streaming keyed MERGE: each micro-batch upserts into a versioned
    parquet table via ``foreachBatch`` — the streaming twin of
    :func:`operators.incremental.upsert_by_key` and the pattern behind
    "continuously refresh the corpus from a CDC feed".

    foreachBatch is the sanctioned escape hatch for sinks Spark cannot
    express declaratively (MERGE, multi-table writes): the batch frame
    is a plain DataFrame and the function runs on the driver once per
    micro-batch.  Exactly-once comes from checkpointed source offsets +
    an IDEMPOTENT apply: output versions are named by ``batch_id`` and
    the base state is the newest version with id STRICTLY BELOW the
    current batch — never ``_CURRENT``, which a crash between the
    version write and the checkpoint commit can leave pointing at the
    batch's OWN output (a _CURRENT-based replay would then read vN while
    overwriting vN — Spark's overwrite-path-being-read guard aborts
    every retry).  ``_CURRENT`` exists only for readers and is swapped
    atomically, last.

    The read-modify-write here rewrites the whole table per batch —
    correct, but at 100 TB the same foreachBatch body calls a table
    format's MERGE (Delta/Iceberg) so only touched files rewrite;
    the structure of this operator is exactly what that body looks like.
    """
    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            upsert_batch_apply(table_dir, key_cols)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def upsert_batch_apply(table_dir: str, key_cols: list[str]):
    """Per-micro-batch body of the streaming MERGE as a standalone
    ``(batch_df, batch_id) -> None`` callable — module-level so replay
    idempotency is directly testable (same contract as
    :func:`near_dedup_batch_apply`)."""
    import os

    from parquet_merger_spark.operators.incremental import upsert_by_key

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        sess = batch_df.sparkSession
        # collapse intra-batch duplicate keys BEFORE the merge: one
        # micro-batch can carry insert+correction for the same key
        # (upsert_by_key keeps "every row of updates", so without this
        # the versioned table holds two rows for that key — a keyed
        # MERGE table with non-unique keys).  Winner = max over the
        # struct of non-key columns: arbitrary but DETERMINISTIC under
        # replay and partitioning; a real CDC feed with a sequence
        # column should order it first in the schema so it dominates
        # the struct comparison.
        cols = batch_df.columns
        non_keys = [c for c in cols if c not in key_cols]
        if non_keys:
            batch_df = (
                batch_df.groupBy(*key_cols)
                .agg(F.max(F.struct(*non_keys)).alias("__row"))
                .select(
                    *key_cols,
                    *[F.col("__row").getField(c).alias(c) for c in non_keys],
                )
                .select(*cols)
            )
        prior = _latest_version_before(table_dir, batch_id)
        if prior is not None:
            base = sess.read.parquet(os.path.join(table_dir, prior))
            merged = upsert_by_key(base, batch_df, key_cols)
        else:
            merged = batch_df
        version = f"v{batch_id:020d}"
        merged.write.mode("overwrite").parquet(os.path.join(table_dir, version))
        manifest = os.path.join(table_dir, "_CURRENT")
        with open(manifest + ".tmp", "w") as fh:
            fh.write(version)
        os.replace(manifest + ".tmp", manifest)  # atomic pointer swap

    return _apply


def _latest_version_before(version_dir: str, batch_id: int) -> str | None:
    """Newest ``v<id>`` directory with numeric id STRICTLY below
    ``batch_id`` — the replay-safe definition of "what earlier batches
    committed", shared by the upsert table (base state, see
    :func:`stream_upsert_to_table`) and the near-dedup bucket store
    (seen set, see :func:`stream_near_dedup_to_table`).  Never consults
    ``_CURRENT``; the zero-padded ``v%020d`` names make the string
    ``max()`` numerically correct."""
    import os

    if not os.path.isdir(version_dir):
        return None
    prior = [
        d
        for d in os.listdir(version_dir)
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < batch_id
    ]
    return max(prior) if prior else None


def read_upsert_table(
    spark: SparkSession, table_dir: str, version: str | int | None = None
) -> DataFrame:
    """Read a :func:`stream_upsert_to_table` table: the current version
    by default (manifest pointer), or a historical one by ``version``
    (time travel — every batch's full state is retained until a
    retention sweep deletes old version directories).  ``version``
    accepts the directory name or the integer batch id."""
    import os

    if version is None:
        with open(os.path.join(table_dir, "_CURRENT")) as fh:
            current = fh.read().strip()
    elif isinstance(version, int):
        current = f"v{version:020d}"
    else:
        current = version
    return spark.read.parquet(os.path.join(table_dir, current))


def upsert_table_versions(table_dir: str) -> list[int]:
    """List retained version ids (ascending) for time travel."""
    import os

    return sorted(
        int(d[1:])
        for d in os.listdir(table_dir)
        if d.startswith("v") and d[1:].isdigit()
    )


def stream_near_dedup_to_table(
    spark: SparkSession,
    docs_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 2,
) -> StreamingQuery:
    """Streaming incremental NEAR-dedup: continuously ingest documents,
    keep only those not near-duplicating anything already accepted — the
    LLM-pipeline shape "the crawler never stops, the corpus only ever
    admits novel text".

    Mechanics (per micro-batch, via ``foreachBatch``): MinHash-LSH band
    buckets are the novelty keys (same generator as the batch pair join —
    ``operators.dedup.lsh_band_buckets``).  A document is a near-dup iff
    one of its buckets was already claimed — by a survivor of an earlier
    batch (the persisted bucket table) or by a smaller-id document in the
    SAME batch.  Documents too short to shingle (< ``shingle_words``
    tokens) are keyed by their EXACT text hash on a reserved band (-1):
    they cannot near-dup, but exact re-deliveries are still rejected
    rather than bypassing dedup.  Survivors append to ``<table>/survivors/b<batch_id>``;
    their buckets merge into the versioned bucket table.

    Semantics note (documented approximation): within one batch, bucket
    ownership goes to the min id whether or not that owner itself
    survives — a chain A~B, B~C, A⊀C can drop C where sequential
    arrival would keep it.  Deterministic, one extra shuffle, and
    conservative in the dedup direction; the batch LSH join remains the
    audit tier.

    Exactly-once: checkpointed source offsets + idempotent apply (both
    sinks are keyed by ``batch_id``; a replayed batch overwrites its own
    survivor directory and bucket version, and the ``_CURRENT`` manifest
    swaps atomically, last).  Replay safety requires that the batch body
    NEVER read ``_CURRENT``: a crash after the bucket write but before the
    checkpoint commit leaves ``_CURRENT`` pointing at the batch's OWN
    version, so a _CURRENT-based replay would see every survivor as a
    duplicate and overwrite the survivor directory empty.  Instead
    ``seen`` is derived from the newest bucket version with numeric id
    strictly less than ``batch_id`` (versions are batch-addressed and
    zero-pad sortable); ``_CURRENT`` exists only for readers.  At 100 TB
    the bucket table's rewrite-per-batch becomes a MERGE into a
    key-value/Delta table; the batch body's joins are unchanged.
    """
    import json
    import os

    schema = read_parquet_batch(spark, [docs_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )

    # persist the docs schema so readers can produce a typed empty frame
    # before the first batch completes
    os.makedirs(table_dir, exist_ok=True)
    with open(os.path.join(table_dir, "_SCHEMA"), "w") as fh:
        fh.write(json.dumps(schema.jsonValue()))

    apply_fn = near_dedup_batch_apply(
        table_dir,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_words=shingle_words,
    )
    return (
        stream.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def near_dedup_batch_apply(
    table_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 2,
):
    """Build the per-micro-batch body of the streaming near-dedup as a
    standalone ``(batch_df, batch_id) -> None`` callable.  Exposed at
    module level so replay idempotency is directly testable: calling it
    twice with the same ``batch_id`` must produce identical survivors."""
    import os

    from parquet_merger_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures,
        tokens_col,
    )

    buckets_dir = os.path.join(table_dir, "buckets")
    survivors_dir = os.path.join(table_dir, "survivors")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        n_tokens = F.size(tokens_col(text_col))
        eligible = batch_df.filter(n_tokens >= shingle_words)
        # fan_out_input=False: a micro-batch is latency-bound — the
        # per-batch repartition cost (~300ms/batch measured) outweighs
        # parallelizing a batch-sized signature kernel
        sigs = minhash_signatures(
            eligible, id_col, text_col, num_hashes, shingle_words,
            fan_out_input=False,
        )
        # Documents too short to shingle still get a novelty key — the
        # EXACT-text hash on a reserved band — so re-deliveries of the
        # same short document are rejected instead of silently bypassing
        # dedup (they can't near-dup, but they can exact-dup).  NULL text
        # keys on the DOC ID instead: xxhash64(NULL) is the constant
        # seed, which would funnel every distinct null-text doc into one
        # bucket and permanently reject all but the first; with no
        # content to compare, only a re-delivery (same id) is a dup.
        short_text_key = F.when(
            F.col(text_col).isNull(),
            F.concat(F.lit("__null_text__:"), F.col(id_col).cast("string")),
        ).otherwise(F.col(text_col))
        # size(split(NULL)) is NULL, failing BOTH range filters — without
        # the isNull arm null-text docs would receive no bucket at all
        # and every re-delivery would silently survive
        short_buckets = batch_df.filter(
            (n_tokens < shingle_words) | F.col(text_col).isNull()
        ).select(
            F.col(id_col),
            F.lit(-1).cast("int").alias("band"),
            F.xxhash64(short_text_key).alias("bucket"),
        )
        buckets = (
            lsh_band_buckets(sigs, id_col, num_hashes, bands)
            .select(id_col, "band", "bucket")
            .union(short_buckets)
            # materialize ONCE: the bucket frame feeds the duplicate
            # join, the survivor anti-join, and the new-seen write —
            # without this the minhash Arrow kernel (the per-batch hot
            # cost) re-executes for each consumer
            .transform(materialize_lazy)
        )

        # replay-safe: newest version strictly older than this batch, so a
        # replayed batch never reads (and then clobbers) its own output
        prior = _latest_version_before(buckets_dir, batch_id)
        if prior is not None:
            seen = sess.read.parquet(os.path.join(buckets_dir, prior))
        else:
            seen = sess.createDataFrame([], "band int, bucket long")

        first_in_batch = buckets.groupBy("band", "bucket").agg(
            F.min(id_col).alias("__first_id")
        )
        dup_ids = (
            buckets.join(seen, ["band", "bucket"], "left_semi")
            .select(id_col)
            .union(
                buckets.join(first_in_batch, ["band", "bucket"])
                .filter(F.col(id_col) > F.col("__first_id"))
                .select(id_col)
            )
            .distinct()
        )
        survivors = batch_df.join(dup_ids, id_col, "left_anti")
        # idempotent append: the batch owns its directory
        survivors.write.mode("overwrite").parquet(
            os.path.join(survivors_dir, f"b{batch_id:020d}")
        )

        new_seen = (
            buckets.join(survivors.select(id_col), id_col, "left_semi")
            .select("band", "bucket")
            .union(seen)
            .distinct()
        )
        version = f"v{batch_id:020d}"
        new_seen.write.mode("overwrite").parquet(
            os.path.join(buckets_dir, version)
        )
        manifest = os.path.join(buckets_dir, "_CURRENT")
        with open(manifest + ".tmp", "w") as fh:
            fh.write(version)
        os.replace(manifest + ".tmp", manifest)

    return _apply


def read_near_dedup_survivors(spark: SparkSession, table_dir: str) -> DataFrame:
    """All accepted (novel) documents so far: union of the per-batch
    survivor directories.  Before the first batch completes (missing or
    empty ``survivors/``) this returns an EMPTY frame with the docs
    schema persisted at table creation (``_SCHEMA``) rather than raising."""
    import json
    import os

    from pyspark.sql.types import StructType

    survivors_dir = os.path.join(table_dir, "survivors")
    parts = (
        sorted(
            os.path.join(survivors_dir, d)
            for d in os.listdir(survivors_dir)
            if d.startswith("b")
        )
        if os.path.isdir(survivors_dir)
        else []
    )
    if parts:
        return spark.read.parquet(*parts)
    schema_file = os.path.join(table_dir, "_SCHEMA")
    if os.path.exists(schema_file):
        with open(schema_file) as fh:
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(fh.read()))
            )
    return spark.createDataFrame([], StructType([]))


def cms_freq_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    depth: int = 3,
    width: int = 256,
    query_name: str = "cms_counters",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """Streaming count-min maintenance: the counter matrix is a plain
    streaming aggregation over exploded (i, slot) probes, so Spark's
    incremental state store IS the sketch — and, uniquely among
    aggregations, its state is bounded at ``depth * width`` rows BY
    CONSTRUCTION no matter how much data flows (no watermark needed;
    ``complete`` mode re-emits the whole 768-row matrix per trigger,
    which is exactly the mergeable-sketch contract: the sink always
    holds CMS(everything so far)).  Each micro-batch folds in
    map-side-combined per-batch deltas — counters add, so the streamed
    matrix equals the batch sketch bit-for-bit
    (:func:`~parquet_merger_spark.operators.sketches.cms_sketch`);
    the ``stream_cms_freq`` key certifies that with the batch twin's
    own DuckDB oracle."""
    from parquet_merger_spark.operators.sketches import cms_probe_entries

    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    counters = (
        stream.select(
            F.explode(cms_probe_entries(key_col, depth, width)).alias("e")
        )
        .select("e.i", "e.slot")
        .groupBy("i", "slot")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    with _pin_state_partitions(spark, state_partitions):
        return (
            counters.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def mincount_distinct_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    key_col: str = "user_id",
    k: int = 64,
    query_name: str = "mincount_registers",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """Streaming MinCount distinct-cardinality maintenance: the register
    matrix is a plain complete-mode streaming aggregation — one portable
    hash per row routed to register ``h mod k``, state = MIN(h div k)
    per (group, register), bounded at ``groups * k`` rows BY
    CONSTRUCTION (the sketch bounds the state store, not a watermark).
    Min is associative and commutative, so the streamed registers equal
    the batch :func:`~parquet_merger_spark.operators.sketches.
    mincount_sketch` bit-for-bit after any replay — the
    ``stream_mincount_distinct`` key certifies that with the batch
    twin's own DuckDB oracle.  This is the distinct-count sibling of
    :func:`cms_freq_stream`: the bottom-k KMV sketch cannot be
    maintained by a native streaming aggregation (its state needs a
    per-group sort), MinCount can."""
    from parquet_merger_spark.operators.sketches import (
        MINCOUNT_WHICH,
        portable_hash64,
    )

    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    registers = (
        stream.select(
            F.col(group_col),
            portable_hash64(F.col(key_col), MINCOUNT_WHICH).alias("hv"),
        )
        .select(
            group_col,
            F.pmod(F.col("hv"), F.lit(k)).alias("reg"),
            F.expr(f"hv div {k}").alias("val"),
        )
        .groupBy(group_col, "reg")
        .agg(F.min("val").alias("m"))
    )
    with _pin_state_partitions(spark, state_partitions):
        return (
            registers.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def vq_sketch_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    rate_den: int = 8,
    query_name: str = "vq_sketch",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """Streaming QUANTILE-sketch maintenance — the order-statistics member
    of the streaming sketch family (count-min :func:`cms_freq_stream`,
    MinCount :func:`mincount_distinct_stream`): the value-count table of
    the deterministic 1/rate_den hash sample is a plain complete-mode
    streaming aggregation, so Spark's state store IS the sketch.  State
    is bounded by the SAMPLE's distinct (group, value) pairs — the
    sketch's own size bound, tuned by ``rate_den``, not a watermark.
    Counts add, so the streamed table equals the batch
    :func:`~parquet_merger_spark.operators.sketches.vq_sketch`
    bit-for-bit after any replay; the ``stream_quantile_rollup`` key
    certifies that via the batch twin's DuckDB oracle."""
    from parquet_merger_spark.operators.sketches import (
        PORTABLE_MOD,
        portable_hash64,
    )

    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    thr = PORTABLE_MOD // rate_den
    sketch = (
        stream.filter(F.col(value_col).isNotNull())
        .filter(portable_hash64(F.col(id_col), 1) < thr)
        .groupBy(
            F.col(group_col).alias("scope"), F.col(value_col).alias("v")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    with _pin_state_partitions(spark, state_partitions):
        return (
            sketch.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def digit_counts_stream(
    spark: SparkSession,
    rows_dir: str,
    checkpoint_dir: str,
    cents_source_col: str = "o_totalprice",
    query_name: str = "digit_counts",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """Streaming first-significant-digit counter — the Benford monitor as
    a complete-mode aggregation whose state is bounded at NINE rows by
    construction (digits 1-9; the sketch-bounds-the-state-store family:
    count-min :func:`cms_freq_stream`, MinCount, quantile
    :func:`vq_sketch_stream`).  The digit extraction is the same
    string-exact integer-cents expression the batch key certifies;
    counts add, so the streamed table equals the batch counts
    bit-for-bit after any replay and the ``stream_benford_audit`` key
    certifies the derived chi-square table with the batch twin's DuckDB
    oracle."""
    schema = read_parquet_batch(spark, [rows_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rows_dir)
    )
    cents = F.round(F.col(cents_source_col) * 100, 0).cast("long")
    counts = (
        stream.select(
            F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    with _pin_state_partitions(spark, state_partitions):
        return (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def moment_sums_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "value",
    query_name: str = "moment_sums",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """Streaming SUFFICIENT-STATISTICS maintenance: per-group exact moment
    sums (n int64, S1 int64 cents, S2/S3 decimal(38,0)) kept by a plain
    complete-mode aggregation — state bounded at one row per group BY
    CONSTRUCTION.  Sums add, so the streamed moment vector equals the
    batch aggregate bit-for-bit after any replay, and every derived
    statistic (mean, variance, skewness g1 = A/B^(3/2)) can be computed
    from the state alone at any moment — the ``stream_value_skewness``
    key certifies that with the batch twin's oracle.  The fourth member
    of the bounded-state streaming family (counters, registers,
    value-count tables, and now moment vectors)."""
    schema = read_parquet_batch(spark, [events_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    c = F.round(F.col(value_col) * 100, 0).cast("long")
    sums = (
        stream.select(F.col(group_col), c.alias("c"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s1"),
            # decimal(38,0) like the batch twin: int64 sum(c^2) wraps
            # for high-magnitude values (see q_value_skewness_by_type)
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
            F.sum(
                F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            ).alias("s3"),
        )
    )
    with _pin_state_partitions(spark, state_partitions):
        return (
            sums.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def constraint_counts_stream(
    spark: SparkSession,
    lineitem_dir: str,
    orders_static: DataFrame,
    checkpoint_dir: str,
    query_name: str = "constraint_counts",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> StreamingQuery:
    """Streaming CHECK-constraint maintenance: lineitem micro-batches
    stream-static join the orders dimension (the enrich_stream shape)
    and every rule folds as a conditional counter in ONE complete-mode
    aggregation — a single row of state BY CONSTRUCTION.  Counters add,
    so the streamed rule counts equal the batch audit bit-for-bit after
    any replay; ``stream_constraint_audit`` certifies the derived
    per-rule table with the batch twin's oracle
    (``constraint_violations_audit``).  The data-contract gate run
    continuously on the ingest stream."""
    schema = read_parquet_batch(spark, [lineitem_dir]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(lineitem_dir)
    )
    j = stream.join(
        orders_static.select("o_orderkey", "o_orderdate"),
        stream.l_orderkey == F.col("o_orderkey"),
    )
    rules = {
        "discount_in_0_1": (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        "quantity_positive": F.col("l_quantity") <= 0,
        "extendedprice_positive": F.col("l_extendedprice") <= 0,
        "ship_after_order": F.col("l_shipdate") < F.col("o_orderdate"),
        "tax_nonnegative": F.col("l_tax") < 0,
    }
    counts = j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.when(v, 1).otherwise(0)).alias(f"v_{i}")
            for i, v in enumerate(rules.values())
        ],
    )
    with _pin_state_partitions(spark, state_partitions):
        return (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
