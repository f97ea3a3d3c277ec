"""Incremental-ingest (Structured Streaming) tests: exactly-once extraction of
newly arrived files; windowed agg equals its batch twin."""

import os
import shutil

from pyspark.sql import functions as F

from ch_pdf_parse_spark.pipeline import extract_documents
from ch_pdf_parse_spark.registry import exact_sum, quantize
from ch_pdf_parse_spark.streaming.incremental import (
    incremental_extract,
    windowed_event_stats,
)
from tests.test_pipeline import _collect


def test_incremental_extract_exactly_once(spark, corpus_dir, tmp_path):
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    full = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    schema = full.schema
    batch1 = full.where(F.col("doc_id") < "doc_000006")
    batch2 = full.where(F.col("doc_id") >= "doc_000006")

    batch1.write.mode("overwrite").parquet(os.path.join(src, "drop1"))
    incremental_extract(spark, src + "/*", out, ckpt, schema=schema)
    n1 = spark.read.parquet(out).count()
    assert n1 == batch1.count()

    batch2.write.mode("overwrite").parquet(os.path.join(src, "drop2"))
    incremental_extract(spark, src + "/*", out, ckpt, schema=schema)
    got = _collect(spark.read.parquet(out))
    want = _collect(extract_documents(full))
    assert got == want  # no doc missing, none processed twice

    # rerun with nothing new: a no-op
    incremental_extract(spark, src + "/*", out, ckpt, schema=schema)
    assert spark.read.parquet(out).count() == full.count()

    shutil.rmtree(ckpt)


def test_incremental_wire_extract_exactly_once(spark, corpus_dir, tmp_path,
                                               monkeypatch):
    """Streaming twin of the raw-bytes lifecycle: .cpw shard drops are
    decoded + extracted exactly once (checkpoint tracks shard files), each
    micro-batch by one binaryFile scan and one MapInArrow, no Exchange."""
    from ch_pdf_parse_spark.sources import wireformat as wf
    from ch_pdf_parse_spark.sources.wireformat import write_wire_shards
    from ch_pdf_parse_spark.streaming.incremental import incremental_extract_wire

    plans = []
    fused = wf.extract_wire_fused

    def recording(batch_df, **kw):
        out = fused(batch_df, **kw)
        qe = out._jdf.queryExecution()
        plans.append((qe.executedPlan().toString(),
                      qe.toRdd().toDebugString()))
        return out

    monkeypatch.setattr(wf, "extract_wire_fused", recording)

    src = str(tmp_path / "wire_incoming")
    out = str(tmp_path / "wire_out")
    ckpt = str(tmp_path / "wire_ckpt")

    full = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    batch1 = full.where(F.col("doc_id") < "doc_000006")
    batch2 = full.where(F.col("doc_id") >= "doc_000006")

    write_wire_shards(batch1, os.path.join(src, "drop1"), n_shards=2)
    incremental_extract_wire(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == batch1.count()

    write_wire_shards(batch2, os.path.join(src, "drop2"), n_shards=2)
    incremental_extract_wire(spark, src, out, ckpt)
    got = _collect(spark.read.parquet(out))
    want = _collect(extract_documents(full))
    assert got == want  # no doc missing, none decoded/extracted twice

    incremental_extract_wire(spark, src, out, ckpt)  # nothing new: no-op
    assert spark.read.parquet(out).count() == full.count()
    assert len(plans) == 2
    # foreachBatch hands over the micro-batch as an RDD of binaryFile rows:
    # one scan of it in the plan, one file scan in its lineage
    for plan, lineage in plans:
        assert plan.count("Scan ExistingRDD") == 1, plan
        assert plan.count("MapInArrow") == 1, plan
        assert "Exchange" not in plan, plan
        assert lineage.count("FileScanRDD") == 1, lineage

    shutil.rmtree(ckpt)


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
