"""Structured Streaming demo tests: windowed, sessionized and deduplicated
event streams equal their batch twins. Incremental extraction is a lineage
run over a grown input (tests/test_file_groups.py)."""

from pyspark.sql import functions as F

from ch_pdf_parse_spark.registry import exact_sum, quantize
from ch_pdf_parse_spark.streaming.incremental import windowed_event_stats


def test_windowed_stats_match_batch(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "events_in")
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        windowed_event_stats(stream)
        .writeStream.format("memory").queryName("winstats")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("select * from winstats").collect()}

    batch = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"),
             quantize(exact_sum("value"), 4).alias("total_value"))
        .select(F.col("window.start").alias("window_start"),
                "event_type", "n", "total_value")
    )
    want = {tuple(r) for r in batch.collect()}
    # append-mode emits only windows older than the watermark; those emitted
    # must match the batch result exactly
    assert got <= want and len(got) > 0


def test_sessionized_stream_matches_batch_operator(spark, tmp_path):
    """Streaming session windows (closed by the watermark) must agree with
    the BATCH a_sessionize_events operator session-for-session: same
    (user, n_events, start, end, total_value). Append mode emits only
    sessions the watermark has closed, so the emitted set is a subset."""
    from ch_pdf_parse_spark.operators.asof import a_sessionize_events
    from ch_pdf_parse_spark.streaming.incremental import (
        sessionized_event_stats)

    sf = "/root/testdata/sf0.001"
    events = spark.read.parquet(sf + "/events.parquet")
    src = str(tmp_path / "sess_in")
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        sessionized_event_stats(stream)
        .writeStream.format("memory").queryName("sessstats")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("select * from sessstats").collect()}

    want = {
        (r.user_id, r.n_events, r.session_start, r.session_end,
         r.total_value)
        for r in a_sessionize_events(spark, sf).collect()
    }
    assert got <= want and len(got) > 0


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    """At-least-once redelivery (the same events file landing twice plus a
    partial re-drop) must come out exactly once per event_id, matching the
    batch distinct."""
    from ch_pdf_parse_spark.streaming.incremental import dedup_event_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "dup_in")
    events.write.mode("overwrite").parquet(src + "/drop1")
    events.write.mode("overwrite").parquet(src + "/drop2")  # full redelivery
    events.where(F.col("event_id") % 3 == 0).write.mode("overwrite").parquet(
        src + "/drop3")  # partial redelivery

    stream = spark.readStream.schema(events.schema).parquet(src + "/*")
    q = (
        dedup_event_stream(stream)
        .writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("select event_id from dedup_stream").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)), "a duplicate survived"
    assert set(ids) == {r.event_id for r in events.collect()}
