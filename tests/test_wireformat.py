"""Wire-format ingest lifecycle: packed binary shards → binaryFile scan →
parsed documents → extraction kernel, with per-record corruption degradation.

Mirrors the reference's raw-bytes S1 source
(/root/reference/predict/pdf2markdown.py:44-61) with a deterministic codec in
place of the PDF decoder; the Spark plumbing (shard write, binary scan,
mapInArrow parse, n_spans routing) is the real lifecycle under test.
"""

import os
import zlib

import pytest

from test_wire_codec import parse_rows

from ch_pdf_parse_spark.pipeline import extract_documents
from ch_pdf_parse_spark.sources import wireformat as wf


@pytest.fixture(scope="module")
def wire_dir(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wire"))
    n = wf.write_wire_shards(docs_df, out, n_shards=4)
    assert n == len([f for f in os.listdir(out) if f.endswith(".cpw")]) > 0
    return out


def _doc_map(rows):
    def spans_key(spans):
        if spans is None:
            return None
        return tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in spans)

    return {r["doc_id"]: spans_key(r["spans"]) for r in rows}


def test_roundtrip_equals_parquet_source(spark, docs_df, wire_dir):
    got = _doc_map(wf.read_wire(spark, wire_dir).collect())
    want = _doc_map(docs_df.select("doc_id", "spans").collect())
    assert got == want


def test_extraction_over_wire_matches_parquet_path(spark, docs_df, wire_dir):
    wired = wf.read_wire(spark, wire_dir)
    assert "n_spans" in wired.columns  # stored-stats skew routing stays live
    got = {r["doc_id"]: (tuple(map(tuple, r["spans"])), r["markdown"])
           for r in extract_documents(wired).collect()}
    want = {r["doc_id"]: (tuple(map(tuple, r["spans"])), r["markdown"])
            for r in extract_documents(docs_df).collect()}
    assert got == want


def test_deterministic_bytes(spark, docs_df, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    wf.write_wire_shards(docs_df, a, n_shards=3)
    wf.write_wire_shards(docs_df, b, n_shards=3)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    for f in names:
        assert open(os.path.join(a, f), "rb").read() == \
            open(os.path.join(b, f), "rb").read()


def test_deterministic_bytes_with_duplicate_and_null_ids(spark, docs_df,
                                                         tmp_path):
    """doc_id alone is not a total order: duplicate and NULL ids must not
    let Spark arrival order (which varies with partitioning) leak into the
    shard bytes — the writer tie-breaks on the encoded record bytes."""
    from pyspark.sql import functions as F

    dups = docs_df.limit(6).withColumn(
        "doc_id", F.when(F.col("doc_id") < "doc_000003", "dup_id"))
    hostile = docs_df.unionByName(dups)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    # different physical orders of the same rows
    wf.write_wire_shards(hostile.repartition(7), a, n_shards=3)
    wf.write_wire_shards(
        hostile.repartition(2).sort(F.col("doc_id").desc_nulls_last()),
        b, n_shards=3)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    for f in names:
        assert open(os.path.join(a, f), "rb").read() == \
            open(os.path.join(b, f), "rb").read()
    # the writer frames a shard exactly as encode_shard does, over the rows
    # in the writer's total order
    one = str(tmp_path / "one")
    wf.write_wire_shards(hostile, one, n_shards=1)
    rows = sorted(((r.doc_id, r.spans) for r in hostile.collect()),
                  key=lambda r: (r[0] is not None, r[0] or "",
                                 wf.encode_record(*r)))
    assert open(os.path.join(one, "shard-00000.cpw"), "rb").read() == \
        wf.encode_shard(rows)


def test_null_hostile_roundtrip():
    rows = [
        ("d1", [{"kind": None, "text": "", "media_ref": None, "offset": None},
                {"kind": "体", "text": "１２３ x", "media_ref": "", "offset": -7}]),
        (None, [{"kind": "body", "text": None, "media_ref": "m", "offset": 0}]),
        ("d3", None),   # NULL spans array — distinct from empty
        ("d4", []),     # empty spans array — distinct from NULL
        ("", []),       # empty doc_id — distinct from NULL
    ]
    for records, corrupt in parse_rows(wf.encode_shard(rows)):
        assert corrupt == 0
        assert records == rows


def test_corrupt_record_degrades_per_record(spark, docs_df, wire_dir, tmp_path):
    out = str(tmp_path / "corrupt")
    os.makedirs(out)
    shards = sorted(f for f in os.listdir(wire_dir) if f.endswith(".cpw"))
    clean_total = 0
    for f in shards:
        data = open(os.path.join(wire_dir, f), "rb").read()
        clean_total += len(wf._parse_shard_columnar(data).doc_ids)
    # flip bytes inside the SECOND record of the first shard (past its sync)
    data = bytearray(open(os.path.join(wire_dir, shards[0]), "rb").read())
    second = data.find(wf.SYNC, data.find(wf.SYNC, 4) + 4)
    data[second + 10] ^= 0xFF
    open(os.path.join(out, shards[0]), "wb").write(bytes(data))
    for f in shards[1:]:
        open(os.path.join(out, f), "wb").write(
            open(os.path.join(wire_dir, f), "rb").read())

    stats = {r["shard_path"].rsplit("/", 1)[-1]: r
             for r in wf.wire_scan_stats(spark, out).collect()}
    assert stats[shards[0]]["n_corrupt"] == 1
    assert sum(r["n_corrupt"] for r in stats.values()) == 1
    docs = wf.read_wire(spark, out)
    assert docs.count() == clean_total - 1  # exactly one record lost, job alive


def test_truncated_shard_counted_not_fatal(tmp_path):
    rows = [("a", []), ("b", None)]
    data = wf.encode_shard(rows)
    for records, corrupt in parse_rows(data[:-6]):  # rip the footer off
        assert [d for d, _ in records] == ["a", "b"]
        assert corrupt == 1
    # and a mid-record truncation loses only the tail record
    second = data.find(wf.SYNC, data.find(wf.SYNC, 4) + 4)
    for records, corrupt in parse_rows(data[:second + 9]):
        assert [d for d, _ in records] == ["a"]
        assert corrupt >= 1


def test_wire_decode_plan_zero_exchange(spark, wire_dir):
    # scale contract: the decode is scan → MapInArrow, no shuffle — shard
    # count alone sets the ingest parallelism, same as the flagship kernel
    import re

    df = wf.read_wire(spark, wire_dir)
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "MapInArrow" in plan
    assert not re.search(r"\bExchange\b", plan), plan


def test_crc_catches_payload_tamper():
    rec = wf.encode_record("x", [{"kind": "k", "text": "t",
                                  "media_ref": None, "offset": 5}])
    body = bytearray(wf.MAGIC + rec + wf.FOOTER_MAGIC + b"\x01\x00\x00\x00")
    # tamper one payload byte, keep framing valid
    body[4 + 4 + 4 + 2] ^= 0x01
    for records, corrupt in parse_rows(bytes(body)):
        assert records == [] and corrupt >= 1
    assert zlib.crc32(b"") == 0  # sanity: zlib present


# ------------------------------------------------- lineage buckets


_SPAN_T = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def test_lineage_bucket_is_one_scan_one_python_stage(spark, wire_dir,
                                                      tmp_path):
    """A wire bucket's one job: the ``binaryFile`` scan of its shards and
    one ``MapInArrow`` that parses, extracts and writes parquet."""
    from ch_pdf_parse_spark.sources import lineage as L

    src = wf.wire_input(spark, wire_dir)
    plan = L._write_frame(src, src.files[:2], ("spans", "markdown"),
                          str(tmp_path))._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("binaryFile") == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan


def test_same_size_shard_rewrite_keeps_oversized_doc(spark, tmp_path,
                                                      monkeypatch):
    """A shard rewritten at exactly its old byte size with a document above
    the salt threshold must still reach the output of a lineage run: no
    statistics recorded at write time may decide which documents a bucket
    extracts."""
    from ch_pdf_parse_spark import pipeline
    from ch_pdf_parse_spark.sources import lineage as L

    rows = [(f"d{i}", [("text", f"t{i}", "", 0)]) for i in range(8)]
    wire = str(tmp_path / "wire")
    wf.write_wire_shards(
        spark.createDataFrame(rows, f"doc_id string, spans {_SPAN_T}"), wire,
        n_shards=2)
    shards = wf.list_shards(wire)
    size = os.path.getsize(shards[0])
    big = [{"kind": "text", "text": f"w{j}", "media_ref": "", "offset": j}
           for j in range(3)]
    pad = size - len(wf.encode_shard([("big", big)]))
    assert pad >= 0
    big_id = "big" + "x" * pad
    with open(shards[0], "wb") as f:
        f.write(wf.encode_shard([(big_id, big)]))
    assert os.path.getsize(shards[0]) == size

    orig = pipeline.extract_documents

    def low_threshold(docs, **kw):
        kw["salt_threshold"] = 1
        return orig(docs, **kw)

    monkeypatch.setattr(pipeline, "extract_documents", low_threshold)
    out = str(tmp_path / "out")
    L.run_with_lineage(spark, wf.wire_input(spark, wire), out, n_buckets=2)
    got = {r["doc_id"] for r in L.read_output(spark, out).collect()}
    assert big_id in got
    assert got == {r["doc_id"] for r in wf.extract_wire(spark, wire)
                   .collect()}


def test_all_corrupt_shard_bucket_records_its_count(spark, wire_dir,
                                                     tmp_path):
    """A bucket whose one shard has every record corrupt writes no rows: its
    record says 0 docs and carries the shard's corrupt count, and its output
    is a readable schema-only file."""
    from ch_pdf_parse_spark.sources import lineage as L

    src = wf.list_shards(wire_dir)[0]
    data = bytearray(open(src, "rb").read())
    pos = data.find(wf.SYNC)
    n = 0
    while pos >= 0:  # break every record's CRC
        data[pos + 9] ^= 0xFF
        n += 1
        pos = data.find(wf.SYNC, pos + 4)
    d = str(tmp_path / "wire")
    os.makedirs(d)
    shard = os.path.join(d, os.path.basename(src))
    open(shard, "wb").write(bytes(data))
    assert wf._parse_one(bytes(data))[0].num_rows == 0

    out = str(tmp_path / "out")
    assert L.run_with_lineage(spark, wf.wire_input(spark, d), out,
                              n_buckets=1) == [0]
    (rec,) = L.done_records(out)
    assert (rec["doc_count"], rec["span_count"]) == (0, 0)
    assert dict(rec["corrupt"]) == {"file:" + shard: n}
    got = spark.read.parquet(os.path.join(out, "bucket=0"))
    assert got.columns == ["doc_id", "spans", "markdown"]
    assert got.count() == 0
    assert sorted(os.listdir(os.path.join(out, "bucket=0"))) == \
        ["_SUCCESS", "part-empty.parquet"]


# ------------------------------------------------- corrupt-record counting


def test_parse_one_counts_corruption_with_either_parser(wire_dir,
                                                        monkeypatch):
    """``_parse_one`` returns the corrupt count with the batch, and the
    Python fallback counts exactly what the C parser counts."""
    from ch_pdf_parse_spark import native

    data = bytearray(open(wf.list_shards(wire_dir)[0], "rb").read())
    second = data.find(wf.SYNC, data.find(wf.SYNC, 4) + 4)
    data[second + 10] ^= 0xFF
    data = bytes(data[:-6])  # and no footer: two corrupt counts
    want = wf._parse_one(data)
    monkeypatch.setattr(native, "parse_shard_batch", lambda _data: None)
    got = wf._parse_one(data)
    assert got[1] == want[1] == 2
    assert got[0].equals(want[0])


@pytest.fixture(scope="module")
def flipped_dir(wire_dir, tmp_path_factory):
    """The wire corpus with one byte flipped in one record of every shard,
    and the last shard's footer ripped off too; returns the dir and the
    per-shard corrupt counts as the job reports them. The directory name
    carries a space, a ``%`` escape look-alike and a non-ASCII letter,
    which ``binaryFile`` keeps verbatim in its ``file:`` paths."""
    out = os.path.join(str(tmp_path_factory.mktemp("flipped")), "a%41 é+1")
    os.makedirs(out)
    want = {}
    shards = wf.list_shards(wire_dir)
    for k, src in enumerate(shards):
        data = bytearray(open(src, "rb").read())
        second = data.find(wf.SYNC, data.find(wf.SYNC, 4) + 4)
        data[second + 10] ^= 0xFF
        if k == len(shards) - 1:
            data = data[:-6]
        dst = os.path.join(out, os.path.basename(src))
        open(dst, "wb").write(bytes(data))
        want["file:" + os.path.abspath(dst)] = 2 if k == len(shards) - 1 else 1
    return out, want


def _job(monkeypatch, capsys, *argv):
    import json
    import sys

    import job
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", ["job.py", "--input-format", "wire",
                                      *argv])
    job.main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _corrupt_of(report):
    return report["wire_corrupt_records"], report["wire_corrupt_shards"]


def test_job_reports_corruption_with_lineage_and_across_resume(
        spark, flipped_dir, tmp_path, monkeypatch, capsys):
    from ch_pdf_parse_spark.sources import lineage as L

    d, want = flipped_dir
    whole = _job(monkeypatch, capsys, "--input", d, "--output",
                 str(tmp_path / "whole"), "--buckets", "3")
    assert whole["buckets_computed"] == 3
    assert _corrupt_of(whole) == (sum(want.values()), sorted(want))
    # killed after one bucket, then resumed by the job: the first bucket's
    # counts come back from its lineage record
    out = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_with_lineage(spark, wf.wire_input(spark, d), out, n_buckets=3,
                           fail_after=1)
    (first,) = L.done_records(out)
    assert first["corrupt"]
    resumed = _job(monkeypatch, capsys, "--input", d, "--output", out,
                   "--buckets", "3")
    assert resumed["buckets_computed"] == 2
    assert _corrupt_of(resumed) == _corrupt_of(whole)
    assert resumed["docs"] == whole["docs"]


def test_list_shards_matches_the_binary_scan(spark, tmp_path):
    """The lineage route groups ``list_shards``; ``extract_wire`` and
    ``wire_scan_stats`` scan the directory. Both must see the same shards,
    at every depth and through a linked directory, with Spark's hidden-name
    rules for files and directories."""
    from ch_pdf_parse_spark.sources.lineage import local_path

    d = str(tmp_path / "shards")
    for rel in ("a.cpw", "_h.cpw", ".h.cpw", "_y=1.cpw", "_metadata.cpw",
                "b.cpw.tmp", "drop1/shard-00000.cpw",
                "drop2/deep/shard-00000.cpw", "drop2/deep/_i.cpw",
                "_hid/c.cpw", ".hid/d.cpw", "d._COPYING_/e.cpw",
                "_x=1/f.cpw", "_metadata_dir/g.cpw", "k=2/.r.cpw",
                "sub.cpw/k.cpw"):
        p = os.path.join(d, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "wb").write(b"x")
    os.symlink(os.path.join(d, "drop1"), os.path.join(d, "linked"))
    scanned = {local_path(r.path)
               for r in wf._binary_scan(spark, d).select("path").collect()}
    assert wf.list_shards(d) == sorted(scanned)
    assert os.path.join(d, "drop2/deep/shard-00000.cpw") in scanned
