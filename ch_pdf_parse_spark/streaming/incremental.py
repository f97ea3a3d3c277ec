"""Structured Streaming incremental ingest (optional demo).

The reference is strictly request/response batch (SURVEY.md §2.11) — this
module is the *incremental arrival* story for the same job: new document
files land in the corpus directory, a `readStream` + ``foreachBatch`` run
extracts only the unseen ones (checkpoint = exactly-once), appending to the
same output table the batch job writes. Also a watermarked windowed
aggregation over the events table as the standard late-data pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline import extract_documents
from ..registry import exact_sum, quantize


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema=None,
) -> None:
    """Process newly-arrived document files exactly once (availableNow
    trigger: drain whatever is new, then stop — the cron-style incremental
    batch). State lives in the checkpoint; a rerun with no new files is a
    no-op."""
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        extract_documents(batch_df).write.mode("append").parquet(output_dir)

    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def incremental_extract_wire(
    spark: SparkSession,
    shard_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of the raw-bytes S1 lifecycle: packed ``.cpw`` shards
    landing in ``shard_dir`` (sources/wireformat.py) are decoded and
    extracted exactly once per shard (availableNow drain; the checkpoint
    remembers which shard FILES were consumed, so the per-record parse never
    re-runs on old shards — at 10^12 docs re-listing is the only per-run
    cost, and corrupt records still degrade per-record inside each shard).
    Each micro-batch is parsed once, by the fused parse+extract."""
    from ..sources.wireformat import extract_wire_fused

    # file streaming sources need an explicit schema; binaryFile's is fixed
    stream = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary")
              .option("pathGlobFilter", "*.cpw")
              # shard drops land as subdirectories (date/batch partitioned
              # in production); each drop keeps its own shard numbering
              .option("recursiveFileLookup", "true").load(shard_dir)
              .select("path", "content"))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        extract_wire_fused(batch_df).write.mode("append").parquet(output_dir)

    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


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
