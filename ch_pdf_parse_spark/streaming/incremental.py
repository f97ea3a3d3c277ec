"""Structured Streaming demos over the events and changelog tables.

The reference is strictly request/response batch (SURVEY.md §2.11). This
module holds the streaming shapes that have no batch commit of their own: a
watermarked windowed aggregation (the standard late-data pattern), an
incrementally maintained CDC state, gap sessionization and watermark-bounded
dedup.

Incremental *extraction* is not a stream: it is a lineage run
(``sources.lineage.run_with_lineage``) re-run as new drops arrive — over
``spark.read.parquet(src + "/*")`` for document parquet, or
``wireformat.wire_input(spark, src)`` for ``.cpw`` shard drops. Files the
manifest has not recorded become new buckets, so each rerun extracts only
the new files, commits each bucket once and records its counts (the wire
corrupt counts included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import exact_sum, quantize


def windowed_event_stats(events_stream: DataFrame,
                         watermark: str = "10 minutes",
                         window: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation (late data dropped after the
    watermark) — the standard streaming agg shape for the events table."""
    return (
        events_stream
        # parquet timestamps load as TIMESTAMP_NTZ; event time must be TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"),
             quantize(exact_sum("value"), 4).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type", "n", "total_value",
        )
    )


def incremental_cdc_state(
    spark: SparkSession,
    input_glob: str,
    state_dir: str,
    checkpoint_dir: str,
    schema=None,
) -> None:
    """Incrementally-maintained CDC current state — the streaming twin of
    operators/cdc.compact_changelog (the lakehouse MERGE INTO loop): each
    newly-arrived changelog drop is folded into the persisted state
    EXACTLY ONCE (availableNow + checkpoint), by compacting
    (previous state ∪ batch changes). The state persists tombstones (op
    column, compact_keep_tombstones) so a late lower-seq update can never
    resurrect a deleted key across batches; readers take
    ``WHERE op <> 'D'``. Per batch the work is |state ∪ batch| — the
    incremental-view-maintenance shape: the raw changelog is never
    re-scanned. The new state is staged in a SIBLING directory and swapped
    in by rename (never overwrite-while-reading — Spark reads lazily, so
    overwriting parquet a plan still scans corrupts the batch; and never a
    cross-filesystem move). A kill between the two renames leaves state
    parked at `<state>.old`; the retried batch detects that shape (state
    missing, `.old` present) and restores it by rename before compacting,
    so the automatic retry resumes from the backed-up state rather than
    rebuilding from one batch — the demo-grade stand-in for not having a
    transactional table format; production is one Iceberg MERGE commit."""
    import os
    import shutil

    from ..operators.cdc import compact_keep_tombstones

    if schema is None:
        schema = spark.read.parquet(input_glob).schema
    stream = spark.readStream.schema(schema).parquet(input_glob)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # crash-window recovery FIRST: a kill between the two swap renames
        # below leaves state renamed away to `.old` with `.new` not yet
        # promoted — if the retry didn't restore it, first-batch detection
        # would treat the batch as the first ever AND the swap's
        # rmtree(old) would destroy the sole surviving copy of prior state
        # (review finding, round 6)
        old = state_dir + ".old"
        if not os.path.exists(state_dir) and os.path.exists(old):
            os.rename(old, state_dir)
        # first-batch detection by EXISTENCE only — a bare except here would
        # turn any transient read error into "no prior state" and silently
        # rebuild from one batch while the checkpoint marks earlier drops
        # done (review finding, round 5); real errors must fail the batch so
        # the checkpoint retries it
        if os.path.exists(state_dir):
            state = spark.read.parquet(state_dir)
            merged = batch_df.unionByName(state.select(*batch_df.columns))
        else:
            merged = batch_df
        new_state = compact_keep_tombstones(merged)
        # sibling staging dir: same filesystem, so the swap is two renames
        # (never a cross-FS copy, and works beyond driver-local /tmp); the
        # write fully materializes the lazy read of the OLD state before
        # anything touches it
        tmp = state_dir + ".new"
        shutil.rmtree(tmp, ignore_errors=True)
        new_state.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(state_dir):
            os.rename(state_dir, old)
        os.rename(tmp, state_dir)
        shutil.rmtree(old, ignore_errors=True)

    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def sessionized_event_stats(events_stream: DataFrame,
                            watermark: str = "10 minutes",
                            gap: str | None = None) -> DataFrame:
    """Streaming gap sessionization — the streaming twin of the batch
    ``a_sessionize_events`` operator, via ``F.session_window`` (merging
    session state, closed and emitted once the watermark passes a session's
    end + gap; state is bounded by the open-session horizon, the streaming
    analog of the batch operator's single key-partitioned pass). The default
    gap is 30min + 1µs: the built-in splits at gap >= G while the batch
    operator splits at gap > 30min, so at the data's microsecond granularity
    the two emit identical sessions (pinned in tests/test_asof.py for batch,
    tests/test_streaming.py for the stream)."""
    from ..operators.asof import SESSION_GAP_STREAM

    if gap is None:
        gap = SESSION_GAP_STREAM
    return (
        events_stream
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             quantize(exact_sum("value"), 4).alias("total_value"))
        .select("user_id", "n_events", "session_start", "session_end",
                "total_value")
    )


def dedup_event_stream(events_stream: DataFrame,
                       watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on the event key — the streaming twin of
    ``dedup_exact`` for at-least-once sources (redelivered Kafka batches,
    retried file drops). ``dropDuplicatesWithinWatermark`` keeps state ONLY
    for the watermark horizon: a duplicate arriving within ``watermark`` of
    the first sighting is dropped, and older keys are evicted — bounded
    state, unlike a naive ``dropDuplicates`` whose key state grows without
    limit on an unbounded stream (the 100 TB/day concern)."""
    return (
        events_stream
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
