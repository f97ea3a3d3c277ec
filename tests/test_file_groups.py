"""Lineage buckets as fixed groups of input files: the path spelling shared
by ``inputFiles()`` and ``_metadata.file_path``, per-bucket file pruning,
resume identity through the manifest's recorded assignment, growth of the
input by new files, the footer ``n_spans`` bound that drops the salted
branch, and job.py's wire mode."""

import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession, functions as F

from ch_pdf_parse_spark.pipeline import extract_documents
from ch_pdf_parse_spark.sources import lineage as L
from tests.test_pipeline import _collect


def _split_corpus(corpus_dir, out, n_files):
    """The fixture corpus sorted by ``n_spans`` and cut into ``n_files``
    parquet files (so the last file holds the largest documents)."""
    t = pq.read_table(os.path.join(corpus_dir, "documents.parquet"))
    t = t.sort_by("n_spans")
    _write_files(t, out, n_files)
    return t


def _write_files(t, out, n_files):
    """``t`` cut into ``n_files`` parquet part files under a new ``out``."""
    os.makedirs(out)
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * step, step),
                       os.path.join(out, f"part-{i:05d}.parquet"))


def _scanned_files(df) -> int:
    """Collect ``df`` and return its scan's ``numFiles`` metric."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())
             if leaves.apply(i).getClass().getSimpleName()
             == "FileSourceScanExec"]
    assert len(scans) == 1
    return scans[0].metrics().apply("numFiles").value()


@pytest.fixture
def recorded(monkeypatch):
    """Record each bucket's input frame, its ``max_spans`` bound and the
    plans of its extraction stages (optionally at a lowered salt
    threshold)."""
    calls = []
    orig = L.extract_stages

    def install(salt_threshold=None):
        def wrapped(docs, **kw):
            if salt_threshold is not None:
                kw["salt_threshold"] = salt_threshold
            stages = orig(docs, **kw)
            calls.append((docs, kw.get("max_spans"), "\n".join(
                frame._jdf.queryExecution().optimizedPlan().toString()
                for frame, _ in stages)))
            return stages
        monkeypatch.setattr(L, "extract_stages", wrapped)
        return calls
    return install


def test_file_uri_and_local_path():
    a = "file:///d/my%20dir%20é/in+put/p.parquet"
    b = "file:/d/my%20dir%20é/in+put/p.parquet"
    assert L.file_uri(a) == L.file_uri(b) == b
    assert L.local_path(b) == "/d/my dir é/in+put/p.parquet"
    assert L.file_uri("hdfs://nn:8020/x/p.parquet") == "hdfs://nn:8020/x/p.parquet"
    assert L.local_path("hdfs://nn:8020/x/p.parquet") is None
    assert L.local_path("/plain/a%20b.cpw") == "/plain/a%20b.cpw"


def test_assign_groups_greedy_by_size():
    sizes = {"a": 5, "b": 4, "d": 3, "c": 3}
    # a→0, b→1, c (ties with d, broken by path)→1, d→0
    assert L.assign_groups(sizes, 2) == [["a", "d"], ["b", "c"]]
    groups = L.assign_groups(sizes, 6)
    assert sorted(f for g in groups for f in g) == ["a", "b", "c", "d"]
    assert groups[4:] == [[], []]


def test_space_and_non_ascii_dir_matches_extract_documents(
        spark, corpus_dir, tmp_path, recorded):
    """A percent-encoded input dir must still restrict each bucket to its
    files; compared raw, every bucket would read nothing and the run would
    'succeed' with an empty output."""
    src = str(tmp_path / "my corpus é+1")
    _split_corpus(corpus_dir, src, 3)
    docs = spark.read.parquet(src)
    out = str(tmp_path / "out")
    calls = recorded()
    assert L.run_with_lineage(spark, docs, out, n_buckets=2) == [0, 1]

    assert _collect(L.read_output(spark, out)) == \
        _collect(extract_documents(docs))
    recs = {r["bucket"]: r for r in L.done_records(out)}
    assert all(recs[b]["doc_count"] > 0 for b in (0, 1))
    # each bucket's frame scans only its own files (the buckets run
    # concurrently, so the frames are recorded in no fixed order)
    with open(os.path.join(out, "_manifest.json")) as f:
        groups = json.load(f)["groups"]
    assert len(calls) == 2
    read = []
    for frame, _, _ in calls:
        got = sorted({L.file_uri(r[0]) for r in
                      frame.select("_metadata.file_path").distinct().collect()})
        assert _scanned_files(frame) == len(got)
        read.append(got)
    assert sorted(read) == sorted(groups)


def test_unresolvable_metadata_raises_before_any_write(spark, docs_df,
                                                       tmp_path):
    grouped = docs_df.groupBy("doc_id").agg(F.first("spans").alias("spans"))
    assert grouped.inputFiles()
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="_metadata.file_path"):
        L.run_with_lineage(spark, grouped, out, n_buckets=2)
    assert not os.path.exists(out)
    with pytest.raises(ValueError, match="shadows"):
        L.run_with_lineage(spark, docs_df.withColumn("_metadata", F.lit(1)),
                           out, n_buckets=2)


def test_appended_part_file_then_resume_extracts_it(spark, corpus_dir,
                                                    tmp_path):
    """A part file added before the resume joins as a new bucket: the resume
    finishes the unfinished bucket and extracts the new file."""
    src = str(tmp_path / "src")
    t = _split_corpus(corpus_dir, src, 2)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_with_lineage(spark, spark.read.parquet(src), out, n_buckets=2,
                           fail_after=1)
    pq.write_table(t.slice(0, 1), os.path.join(src, "part-00009.parquet"))
    docs = spark.read.parquet(src)
    assert L.run_with_lineage(spark, docs, out, n_buckets=2) == [1, 2]
    assert _collect(L.read_output(spark, out)) == \
        _collect(extract_documents(docs))
    assert sum(r["doc_count"] for r in L.done_records(out)) == \
        t.num_rows + 1


def test_v3_manifest_rejected_as_older_version(spark, docs_df, tmp_path):
    out = str(tmp_path / "out_v3")
    os.makedirs(out)
    with open(os.path.join(out, "_manifest.json"), "w") as f:
        json.dump({"sig": "0123456789abcdef", "n_buckets": 4,
                   "sig_version": 3}, f)
    with pytest.raises(ValueError, match="older engine version"):
        L.run_with_lineage(spark, docs_df, out, n_buckets=4)


def test_manifest_records_groups_and_resume_reuses_them(
        spark, corpus_dir, tmp_path, monkeypatch):
    src = str(tmp_path / "src")
    _split_corpus(corpus_dir, src, 4)
    docs = spark.read.parquet(src)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_with_lineage(spark, docs, out, n_buckets=3, fail_after=1)
    with open(os.path.join(out, "_manifest.json")) as f:
        man = json.load(f)
    assert man["sig_version"] == L.SIG_VERSION == 6
    files = sorted(L.file_uri(f) for f in docs.inputFiles())
    assert len(man["groups"]) == 3
    assert sorted(f for g in man["groups"] for f in g) == files

    def no_reassignment(*_):
        raise AssertionError("resume must reuse the recorded assignment")

    monkeypatch.setattr(L, "assign_groups", no_reassignment)
    assert L.run_with_lineage(spark, docs, out, n_buckets=3) == [1, 2]
    assert _collect(L.read_output(spark, out)) == \
        _collect(extract_documents(docs))
    for b, group in enumerate(man["groups"]):
        n = sum(pq.read_metadata(L.local_path(f)).num_rows for f in group)
        assert n == spark.read.parquet(os.path.join(out, f"bucket={b}")).count()


# ------------------------------------------------------------ growth

def _drops(corpus_dir):
    """The fixture corpus as two arrivals: docs before ``doc_000006`` and
    the rest."""
    t = pq.read_table(os.path.join(corpus_dir, "documents.parquet"))
    first = pc.less(t.column("doc_id"), "doc_000006")
    return t.filter(first), t.filter(pc.invert(first))


def _success_mtimes(out, buckets):
    return {b: os.stat(os.path.join(out, f"bucket={b}", "_SUCCESS"))
            .st_mtime_ns for b in buckets}


def test_grown_table_input_extracts_only_the_new_files(spark, corpus_dir,
                                                       tmp_path):
    """A rerun over a directory that gained a drop extracts only the drop's
    files, as new buckets, and leaves the first run's buckets untouched.
    The first run keeps its empty bucket; the growth run adds none."""
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    drop1, drop2 = _drops(corpus_dir)
    _write_files(drop1, os.path.join(src, "drop1"), 2)
    assert L.run_with_lineage(spark, spark.read.parquet(src + "/*"), out,
                              n_buckets=3) == [0, 1, 2]
    before = _success_mtimes(out, range(3))

    _write_files(drop2, os.path.join(src, "drop2"), 2)
    docs = spark.read.parquet(src + "/*")
    assert L.run_with_lineage(spark, docs, out, n_buckets=3) == [3, 4]
    assert _success_mtimes(out, range(3)) == before
    assert _collect(L.read_output(spark, out)) == \
        _collect(extract_documents(docs))
    recs = {r["bucket"]: r["doc_count"] for r in L.done_records(out)}
    assert recs[3] + recs[4] == drop2.num_rows
    assert sum(recs.values()) == drop1.num_rows + drop2.num_rows
    assert L.run_with_lineage(spark, docs, out, n_buckets=3) == []


def test_grown_wire_input_records_the_new_drops_corruption(
        spark, docs_df, tmp_path, monkeypatch, capsys):
    """Wire drops land as subdirectories with the same shard names. The
    growth run's new bucket records the new drop's corrupt record, and
    job.py reports it."""
    import sys

    import job
    from ch_pdf_parse_spark.sources import wireformat as wf

    wire = str(tmp_path / "wire")
    out = str(tmp_path / "out")
    early = F.col("doc_id") < "doc_000006"
    drop1, drop2 = docs_df.where(early), docs_df.where(~early)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", [
        "job.py", "--input", wire, "--input-format", "wire",
        "--output", out, "--buckets", "2"])

    def run():
        job.main()
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    wf.write_wire_shards(drop1, os.path.join(wire, "drop1"), n_shards=2)
    first = run()
    assert (first["buckets_computed"], first["wire_corrupt_records"]) == (2, 0)

    wf.write_wire_shards(drop2, os.path.join(wire, "drop2"), n_shards=1)
    (shard,) = wf.list_shards(os.path.join(wire, "drop2"))
    data = bytearray(open(shard, "rb").read())
    data[data.find(wf.SYNC, data.find(wf.SYNC, 4) + 4) + 10] ^= 0xFF
    open(shard, "wb").write(bytes(data))
    uri = "file:" + os.path.abspath(shard)

    grown = run()
    assert grown["buckets_computed"] == 1
    assert (grown["wire_corrupt_records"], grown["wire_corrupt_shards"]) \
        == (1, [uri])
    recs = {r["bucket"]: r for r in L.done_records(out)}
    assert dict(recs[2]["corrupt"]) == {uri: 1}
    assert _collect(L.read_output(spark, out)) == \
        _collect(wf.extract_wire(spark, wire))


def test_growth_killed_after_manifest_resumes_new_buckets(
        spark, corpus_dir, tmp_path, monkeypatch):
    """A growth run killed after its grown manifest landed: the resume
    finishes the new buckets from the recorded groups, without assigning
    the new files again."""
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    drop1, drop2 = _drops(corpus_dir)
    _write_files(drop1, os.path.join(src, "drop1"), 2)
    assert L.run_with_lineage(spark, spark.read.parquet(src + "/*"), out,
                              n_buckets=2) == [0, 1]
    _write_files(drop2, os.path.join(src, "drop2"), 2)
    docs = spark.read.parquet(src + "/*")
    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_with_lineage(spark, docs, out, n_buckets=2, fail_after=1)
    with open(os.path.join(out, "_manifest.json")) as f:
        assert len(json.load(f)["groups"]) == 4

    def no_reassignment(*_):
        raise AssertionError("resume must reuse the recorded assignment")

    monkeypatch.setattr(L, "assign_groups", no_reassignment)
    assert L.run_with_lineage(spark, docs, out, n_buckets=2) == [3]
    assert _collect(L.read_output(spark, out)) == \
        _collect(extract_documents(docs))


def test_removed_input_file_raises(spark, corpus_dir, tmp_path):
    src = str(tmp_path / "src")
    _split_corpus(corpus_dir, src, 3)
    out = str(tmp_path / "out")
    L.run_with_lineage(spark, spark.read.parquet(src), out, n_buckets=2)
    os.remove(os.path.join(src, "part-00001.parquet"))
    with pytest.raises(ValueError, match="different input or .* is gone"):
        L.run_with_lineage(spark, spark.read.parquet(src), out, n_buckets=2)


# ------------------------------------------------------------ the bound

def _write(path, table, **kw):
    pq.write_table(table, path, **kw)
    return "file:" + path


def test_footer_max_spans(tmp_path):
    n = pa.array([3, 7, 5], pa.int32())
    good = _write(str(tmp_path / "good.parquet"),
                  pa.table({"doc_id": ["a", "b", "c"], "n_spans": n}),
                  row_group_size=1)
    assert L.footer_max_spans([good]) == 7
    assert L.footer_max_spans([]) == 0
    empty = _write(str(tmp_path / "empty.parquet"), pa.table(
        {"n_spans": pa.array([], pa.int32())}))
    assert L.footer_max_spans([good, empty]) == 7
    # each None case
    assert L.footer_max_spans([good, "hdfs://nn/x.parquet"]) is None  # remote
    assert L.footer_max_spans([good, "file:" + str(tmp_path / "gone")]) is None
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet")
    assert L.footer_max_spans(["file:" + str(bad)]) is None  # unreadable
    absent = _write(str(tmp_path / "absent.parquet"),
                    pa.table({"doc_id": ["a"]}))
    assert L.footer_max_spans([good, absent]) is None  # column absent
    nostats = _write(str(tmp_path / "nostats.parquet"),
                     pa.table({"n_spans": n}), write_statistics=False)
    assert L.footer_max_spans([nostats]) is None  # row group without min/max
    nulls = _write(str(tmp_path / "nulls.parquet"),
                   pa.table({"n_spans": pa.array([None], pa.int32())}))
    assert L.footer_max_spans([nulls]) is None


def test_bound_needs_the_stored_column(spark, docs_df, recorded):
    calls = recorded()

    def bound(df):
        src = L.table_input(df)
        src.stages(src.files, ("spans", "markdown"))
        return calls[-1][1]

    assert bound(docs_df) is not None
    assert bound(docs_df.where("n_spans > 0")) is not None
    for derived in (docs_df.withColumn("n_spans", F.col("n_spans") * 1000),
                    docs_df.withColumnRenamed("n_spans", "n").withColumn(
                        "n_spans", F.col("n")),
                    docs_df.drop("n_spans")):
        assert bound(derived) is None
    # rows mixed in from another relation are not covered either
    assert L._is_stored_column(docs_df, "n_spans")
    assert not L._is_stored_column(docs_df.unionByName(docs_df), "n_spans")
    assert not L._is_stored_column(
        docs_df.join(docs_df.select("doc_id"), "doc_id"), "n_spans")


def test_bound_drops_the_salted_branch_but_one_bucket(
        spark, corpus_dir, tmp_path, recorded):
    """Only the bucket whose files hold a document over the (lowered) salt
    threshold plans the salted branch; the output is unchanged."""
    src = str(tmp_path / "src")
    t = _split_corpus(corpus_dir, src, 4)
    spans = t.column("n_spans").to_pylist()
    T = max(spans) - 1
    step = -(-t.num_rows // 4)
    assert max(spans[:3 * step]) <= T < max(spans[3 * step:])

    docs = spark.read.parquet(src)
    calls = recorded(salt_threshold=T)
    L.run_with_lineage(spark, docs, str(tmp_path / "out"), n_buckets=4)
    assert len(calls) == 4
    salted = [b for b, (_, bound, plan) in enumerate(calls)
              if "FlatMapGroupsInPandas" in plan]
    assert len(salted) == 1
    assert all((bound > T) == (b in salted)
               for b, (_, bound, _) in enumerate(calls))
    assert _collect(L.read_output(spark, str(tmp_path / "out"))) == \
        _collect(extract_documents(docs, salt_threshold=T))


def test_table_bucket_is_one_scan_one_python_stage(spark, docs_df, tmp_path):
    """When the footer bound rules out the salted branch, a table bucket's
    one job is the parquet scan of its files and one ``MapInArrow`` that
    extracts and writes parquet."""
    src = L.table_input(docs_df)
    plan = L._write_frame(src, src.files, ("spans", "markdown"),
                          str(tmp_path))._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan


# ------------------------------------------------------------ job.py, wire

def test_job_wire_mode_runs_with_lineage_and_resumes(
        spark, docs_df, tmp_path, monkeypatch, capsys):
    import sys

    import job
    from ch_pdf_parse_spark.sources import wireformat as wf

    wire = str(tmp_path / "wire")
    wf.write_wire_shards(docs_df, wire, n_shards=4)
    out = str(tmp_path / "out")
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", [
        "job.py", "--input", wire, "--input-format", "wire",
        "--output", out, "--buckets", "3"])
    runs = []
    for _ in range(2):
        job.main()
        runs.append(json.loads(capsys.readouterr().out.strip()
                               .splitlines()[-1]))
    assert runs[0]["buckets_computed"] == 3
    assert runs[1]["buckets_computed"] == 0
    assert runs[0]["docs"] == runs[1]["docs"] == docs_df.count()
    assert _collect(L.read_output(spark, out)) == \
        _collect(wf.extract_wire(spark, wire))


def test_job_wire_mode_more_buckets_than_shards(
        spark, docs_df, tmp_path, monkeypatch, capsys):
    """Buckets left without a shard write an empty output and a 0/0
    record."""
    import sys

    import job
    from ch_pdf_parse_spark.sources import wireformat as wf

    wire = str(tmp_path / "wire")
    n_shards = wf.write_wire_shards(docs_df, wire, n_shards=2)
    out = str(tmp_path / "out")
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", [
        "job.py", "--input", wire, "--input-format", "wire",
        "--output", out, "--buckets", str(n_shards + 2)])
    job.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["buckets_computed"] == n_shards + 2
    assert report["docs"] == docs_df.count()
    recs = {r["bucket"]: r for r in L.done_records(out)}
    empty = [b for b, r in recs.items() if r["doc_count"] == 0]
    assert len(recs) == n_shards + 2 and len(empty) == 2
    for b in empty:
        assert recs[b]["span_count"] == 0
        got = spark.read.parquet(os.path.join(out, f"bucket={b}"))
        assert got.columns == ["doc_id", "spans", "markdown"]
        assert got.count() == 0
    assert _collect(L.read_output(spark, out)) == \
        _collect(wf.extract_wire(spark, wire))
