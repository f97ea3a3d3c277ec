"""Kill/resume property test: a killed run resumes without recomputing
completed partitions and produces the identical output table (SURVEY.md §5)."""

import os
import shutil

import pytest

from ch_pdf_parse_spark.sources import lineage as L
from tests.test_file_groups import _split_corpus
from tests.test_pipeline import _collect
from ch_pdf_parse_spark.pipeline import extract_documents


def test_resume_without_recompute(spark, docs_df, tmp_path):
    out = str(tmp_path / "out")

    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_with_lineage(spark, docs_df, out, n_buckets=6, fail_after=3)

    done1 = {r["bucket"] for r in L.read_lineage(spark, out).collect()}
    assert len(done1) == 3
    mtimes = {b: os.path.getmtime(os.path.join(out, f"bucket={b}", "_SUCCESS"))
              for b in done1}

    computed = L.run_with_lineage(spark, docs_df, out, n_buckets=6)
    assert set(computed).isdisjoint(done1), "resume recomputed a completed bucket"

    for b in done1:  # completed partitions untouched on disk
        assert os.path.getmtime(os.path.join(out, f"bucket={b}", "_SUCCESS")) == mtimes[b]

    got = _collect(L.read_output(spark, out))
    want = _collect(extract_documents(docs_df))
    assert got == want

    lin = L.read_lineage(spark, out)
    rows = lin.collect()
    assert all(r["status"] == "done" for r in rows)
    assert sum(r["doc_count"] for r in rows) == docs_df.count()


def test_rerun_is_noop(spark, docs_df, tmp_path):
    out = str(tmp_path / "out2")
    L.run_with_lineage(spark, docs_df, out, n_buckets=4)
    assert L.run_with_lineage(spark, docs_df, out, n_buckets=4) == []


def test_mismatched_input_or_buckets_raises(spark, docs_df, tmp_path):
    """Resuming into an out_dir staged for a different input or bucketing
    must fail loudly, never silently extract against the stale snapshot."""
    out = str(tmp_path / "out_mismatch")
    L.run_with_lineage(spark, docs_df, out, n_buckets=4)

    with pytest.raises(ValueError, match="different input or"):
        L.run_with_lineage(spark, docs_df, out, n_buckets=8)

    other = docs_df.limit(3)
    other_path = str(tmp_path / "other_docs")
    other.write.parquet(other_path)
    other_df = spark.read.parquet(other_path)
    with pytest.raises(ValueError, match="different input or"):
        L.run_with_lineage(spark, other_df, out, n_buckets=4)


def test_old_manifest_version_rejected_clearly(spark, docs_df, tmp_path):
    """An out_dir checkpointed by the v1 signature (bare file names) must be
    rejected as a VERSION mismatch, not misdiagnosed as 'different input'."""
    import json

    out = str(tmp_path / "out_oldver")
    os.makedirs(out)
    with open(os.path.join(out, "_manifest.json"), "w") as f:
        json.dump({"sig": "deadbeefdeadbeef", "n_buckets": 4}, f)  # no sig_version
    with pytest.raises(ValueError, match="older engine version"):
        L.run_with_lineage(spark, docs_df, out, n_buckets=4)


def test_inplace_overwrite_detected_via_stat(spark, tmp_path):
    """Input files rewritten IN PLACE under the same names (size/mtime
    change) must not match the manifest's recorded size/mtime — with a
    percent-encoded local path (space in the directory), exercising the URI
    decode."""
    src = str(tmp_path / "my corpus")
    docs = spark.createDataFrame(
        [(f"d{i}", None) for i in range(8)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    docs.coalesce(1).write.parquet(src)
    out = str(tmp_path / "out_inplace")

    L.run_with_lineage(spark, spark.read.parquet(src), out, n_buckets=2)
    # same names, new content: rewrite via a temp dir, then swap part files
    import shutil

    tmp2 = str(tmp_path / "regen")
    spark.createDataFrame(
        [(f"e{i}", None) for i in range(8)], docs.schema
    ).coalesce(1).write.parquet(tmp2)
    old_parts = sorted(p for p in os.listdir(src) if p.endswith(".parquet"))
    new_parts = sorted(p for p in os.listdir(tmp2) if p.endswith(".parquet"))
    shutil.copyfile(os.path.join(tmp2, new_parts[0]),
                    os.path.join(src, old_parts[0]))
    for crc in os.listdir(src):  # stale Hadoop checksums of the old bytes
        if crc.endswith(".crc"):
            os.remove(os.path.join(src, crc))
    spark.catalog.refreshByPath(src)  # drop the cached file index/footers
    with pytest.raises(ValueError, match="different input"):
        L.run_with_lineage(spark, spark.read.parquet(src), out, n_buckets=2)


def test_job_rejects_wrong_schema_before_staging(spark, tmp_path, monkeypatch):
    """job.py must fail fast with a readable message when the input lacks the
    interleaved-corpus columns — BEFORE the staging copy wastes a full input
    pass (found driving the spark-submit surface against a text corpus)."""
    import sys

    import job

    bad = str(tmp_path / "bad_in")
    spark.createDataFrame([(1, "just text")], "doc_id long, text string") \
        .write.parquet(bad)
    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv",
                        ["job.py", "--input", bad, "--output", out])
    # job.main() would spark.stop() our session fixture via sys.exit paths
    # only AFTER the guard; the guard raises SystemExit first
    with pytest.raises(SystemExit) as e:
        job.main()
    assert "spans" in str(e.value) and "expected the interleaved" in str(e.value)
    assert not os.path.exists(os.path.join(out, "_staged"))


def _job_ids(spark, group, fn):
    """The ids of the jobs ``fn()`` ran in job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _run_job(monkeypatch, capsys, *argv):
    """``job.main()`` on ``argv``, with the session kept open; its report."""
    import json
    import sys

    import job
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", ["job.py", *argv])
    job.main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_buckets_run_in_the_callers_job_group(spark, corpus_dir, tmp_path):
    """The threads that submit the buckets keep the caller's job group, so
    a caller that counts its jobs by group sees one job per bucket that
    holds files (a bucket without files runs none)."""
    import json

    src = str(tmp_path / "src")
    _split_corpus(corpus_dir, src, 3)
    docs, out = spark.read.parquet(src), str(tmp_path / "out")
    jobs = _job_ids(spark, "lineage-buckets", lambda: L.run_with_lineage(
        spark, docs, out, n_buckets=4))
    with open(os.path.join(out, "_manifest.json")) as f:
        groups = json.load(f)["groups"]
    assert sum(1 for g in groups if g) == 3
    assert len(jobs) == 3


@pytest.mark.parametrize("n", [0, -1])
def test_bucket_count_below_one_rejected_before_any_write(
        spark, docs_df, corpus_dir, tmp_path, monkeypatch, capsys, n):
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="n_buckets must be at least 1"):
        L.run_with_lineage(spark, docs_df, out, n_buckets=n)
    assert not os.path.exists(out)
    with pytest.raises(ValueError, match="n_buckets must be at least 1"):
        _run_job(monkeypatch, capsys, "--input",
                 os.path.join(corpus_dir, "documents.parquet"),
                 "--output", out, "--buckets", str(n))
    assert not os.path.exists(out)


def test_job_writes_an_iceberg_output_in_one_pass(
        spark, docs_df, corpus_dir, tmp_path, monkeypatch, capsys):
    """An Iceberg output has no directory to commit buckets into: job.py
    extracts in one pass through ``write_table``, and writes no lineage."""
    from ch_pdf_parse_spark.sources import catalog

    table, stored = "cat.db.out", str(tmp_path / "stored")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(catalog, "is_iceberg", lambda s, ref: ref == table)
    read = catalog.read_table
    monkeypatch.setattr(catalog, "read_table", lambda s, ref: read(
        s, stored if ref == table else ref))

    def write_table(df, ref):
        assert ref == table
        df.write.parquet(stored)

    monkeypatch.setattr(catalog, "write_table", write_table)
    got = _run_job(monkeypatch, capsys, "--input",
                   os.path.join(corpus_dir, "documents.parquet"),
                   "--output", table)
    assert (got["buckets_computed"], got["docs"]) == (1, docs_df.count())
    assert not os.path.exists(table)
    assert _collect(spark.read.parquet(stored)) == \
        _collect(extract_documents(docs_df))


def test_job_path_to_path_runs_lineage(spark, docs_df, corpus_dir, tmp_path,
                                       monkeypatch, capsys):
    from ch_pdf_parse_spark.sources import catalog

    def write_table(df, ref):
        raise AssertionError("a path output must not take the single pass")

    monkeypatch.setattr(catalog, "is_iceberg", lambda s, ref: False)
    monkeypatch.setattr(catalog, "write_table", write_table)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _split_corpus(corpus_dir, src, 2)
    got = _run_job(monkeypatch, capsys, "--input", src, "--output", out,
                   "--buckets", "2")
    assert (got["buckets_computed"], got["docs"]) == (2, docs_df.count())
    assert sorted(r["bucket"] for r in L.done_records(out)) == [0, 1]


def test_job_rejects_wire_into_iceberg_before_any_spark_job(
        spark, docs_df, tmp_path, monkeypatch):
    import sys

    import job
    from ch_pdf_parse_spark.sources import catalog
    from ch_pdf_parse_spark.sources.wireformat import write_wire_shards

    wire, table = str(tmp_path / "wire"), "cat.db.out"
    write_wire_shards(docs_df, wire, n_shards=2)
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(catalog, "is_iceberg", lambda s, ref: ref == table)
    monkeypatch.setattr(sys, "argv", [
        "job.py", "--input-format", "wire", "--input", wire,
        "--output", table])

    def run():
        with pytest.raises(SystemExit, match="is an Iceberg table"):
            job.main()

    assert _job_ids(spark, "wire-into-iceberg", run) == []
    assert not os.path.exists(table)


def _recount(spark, out, b, columns):
    """The old engine's per-bucket count: re-read ``bucket=b`` and count."""
    from pyspark.sql import functions as F

    spans = F.sum(F.size("spans")) if "spans" in columns else F.lit(0)
    r = (spark.read.parquet(os.path.join(out, f"bucket={b}"))
         .agg(F.count("*").alias("d"), spans.alias("s")).collect()[0])
    return r["d"], r["s"] or 0


def _rows(records):
    """Lineage records as sorted (bucket, doc_count, span_count, status)."""
    return sorted((r["bucket"], r["doc_count"], r["span_count"], r["status"])
                  for r in records)


@pytest.mark.parametrize("columns,n_buckets", [
    (("spans", "markdown"), 4),
    (("markdown",), 4),
    (("spans", "markdown"), 16),  # more buckets than docs: some empty
], ids=["spans_markdown", "markdown_only", "empty_buckets"])
def test_observed_counts_match_recount(spark, docs_df, tmp_path, columns,
                                       n_buckets):
    """Each bucket's observed counts equal a recount of what was written,
    the driver-side reader agrees with Spark's, and a second run into a
    fresh out_dir records the same rows (wall_ms aside)."""
    runs = []
    for i in range(2):
        out = str(tmp_path / f"out{i}")
        L.run_with_lineage(spark, docs_df, out, n_buckets=n_buckets,
                           columns=columns)
        rows = _rows(L.read_lineage(spark, out).collect())
        assert [r[0] for r in rows] == list(range(n_buckets))
        assert [(r[1], r[2]) for r in rows] == [
            _recount(spark, out, b, columns) for b in range(n_buckets)]
        assert _rows(L.done_records(out)) == rows
        runs.append(rows)
    assert runs[0] == runs[1]
    assert sum(r[1] for r in rows) == docs_df.count()
    if "spans" not in columns:
        assert all(r[2] == 0 for r in rows)
    if n_buckets > docs_df.count():
        assert any((r[1], r[2]) == (0, 0) for r in rows)


def test_crash_before_record_reextracts_that_bucket(spark, docs_df, tmp_path,
                                                     monkeypatch):
    """A kill between bucket k's data commit and its record: the rerun
    re-extracts exactly bucket k and records it once."""
    out = str(tmp_path / "out_crash")
    k = 3  # the last bucket of four, so it is all the rerun has left
    append = L._append_record

    def killed_at_k(out_dir, rec):
        if rec["bucket"] == k:
            raise RuntimeError("killed before the record landed")
        append(out_dir, rec)

    monkeypatch.setattr(L, "_append_record", killed_at_k)
    with pytest.raises(RuntimeError, match="killed before the record"):
        L.run_with_lineage(spark, docs_df, out, n_buckets=4)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(out, f"bucket={k}", "_SUCCESS"))
    assert {r["bucket"] for r in L.done_records(out)} == {0, 1, 2}

    assert L.run_with_lineage(spark, docs_df, out, n_buckets=4) == [k]
    assert sorted(r["bucket"] for r in L.read_lineage(spark, out).collect()) \
        == [0, 1, 2, 3]
    assert _collect(L.read_output(spark, out)) == \
        _collect(extract_documents(docs_df))


def test_leftover_temp_record_is_ignored(spark, docs_df, tmp_path):
    """A record written but never renamed into place, and a torn one, are
    invisible to read_lineage and to the resume set."""
    out = str(tmp_path / "out_tmp")
    lin = L.lineage_path(out)
    L._append_record(out, {"bucket": 0, "doc_count": 99, "span_count": 99,
                           "wall_ms": 1, "status": "done"})
    (done,) = os.listdir(lin)
    os.rename(os.path.join(lin, done), os.path.join(lin, f".{done}.tmp"))
    with open(os.path.join(lin, ".part-00001-torn.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 torn")
    assert L.done_records(out) == []
    assert L.read_lineage(spark, out).count() == 0

    assert L.run_with_lineage(spark, docs_df, out, n_buckets=2) == [0, 1]
    rows = L.read_lineage(spark, out).collect()
    assert sorted(r["bucket"] for r in rows) == [0, 1]
    assert sum(r["doc_count"] for r in rows) == docs_df.count()


def test_resumes_from_spark_appended_lineage(spark, docs_df, tmp_path):
    """An out_dir whose _lineage was written by the older Spark append
    (one append per bucket, with _SUCCESS) resumes and skips its recorded
    buckets; new records land beside the old ones."""
    out = str(tmp_path / "out_old_lineage")
    L.run_with_lineage(spark, docs_df, out, n_buckets=4)
    recs = {r["bucket"]: r for r in L.done_records(out)}
    shutil.rmtree(L.lineage_path(out))
    for b in (0, 2):
        r = recs[b]
        spark.createDataFrame(
            [(b, r["doc_count"], r["span_count"], r["wall_ms"], "done", {},
              r["started_ms"])],
            L.LINEAGE_SCHEMA).write.mode("append").parquet(L.lineage_path(out))
    assert os.path.exists(os.path.join(L.lineage_path(out), "_SUCCESS"))
    mtimes = {b: os.stat(os.path.join(out, f"bucket={b}", "_SUCCESS")).st_mtime_ns
              for b in (0, 2)}

    assert L.run_with_lineage(spark, docs_df, out, n_buckets=4) == [1, 3]
    for b in (0, 2):
        assert os.stat(os.path.join(out, f"bucket={b}", "_SUCCESS")) \
            .st_mtime_ns == mtimes[b]
    assert _rows(L.read_lineage(spark, out).collect()) == _rows(recs.values())
    total = {r["bucket"]: r for r in L.lineage_report(spark, out).collect()}
    assert total["TOTAL"]["doc_count"] == docs_df.count()


def test_report_total_wall_is_the_runs_span(spark, corpus_dir, tmp_path):
    """Buckets run concurrently, so the TOTAL row's wall_ms is the span
    the buckets covered together, not the sum of their walls: it cannot
    exceed the wall time of the run that wrote them."""
    import time

    src = str(tmp_path / "src")
    _split_corpus(corpus_dir, src, 4)
    docs, out = spark.read.parquet(src), str(tmp_path / "out")
    t0 = time.time()
    assert len(L.run_with_lineage(spark, docs, out, n_buckets=4)) == 4
    run_ms = (time.time() - t0) * 1000
    rows = {r["bucket"]: r for r in L.lineage_report(spark, out).collect()}
    total = rows.pop("TOTAL")
    assert max(r["wall_ms"] for r in rows.values()) <= total["wall_ms"] \
        <= run_ms
    assert total["docs_per_sec"] == round(
        docs.count() * 1000.0 / total["wall_ms"], 1)


def _records(out, recs, started=True):
    """Land hand-made done records (bucket, started_ms, wall_ms); without
    ``started``, in the record schema that predates ``started_ms``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(L.LINEAGE_SCHEMA)
    if not started:
        schema = schema.remove(schema.get_field_index("started_ms"))
    rows = [{"bucket": b, "doc_count": 10, "span_count": 20, "wall_ms": w,
             "status": "done", "corrupt": [], "started_ms": t}
            for b, t, w in recs]
    os.makedirs(L.lineage_path(out))
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(L.lineage_path(out), "part-0.parquet"))


def test_report_total_counts_overlaps_once_and_gaps_not_at_all(
        spark, tmp_path):
    out = str(tmp_path / "out")
    # two overlapping buckets, one nested in them, then a resume 10 s later
    _records(out, [(0, 1000, 100), (1, 1050, 100), (2, 1060, 20),
                   (3, 11000, 30)])
    total = {r["bucket"]: r for r in
             L.lineage_report(spark, out).collect()}["TOTAL"]
    assert (total["doc_count"], total["wall_ms"]) == (40, 180)
    assert total["docs_per_sec"] == round(40 * 1000.0 / 180, 1)


def test_report_total_wall_is_null_without_start_times(spark, tmp_path):
    """Records written before ``started_ms`` existed read it as null; the
    run's span is then unknown, so TOTAL wall_ms and docs_per_sec are
    null while the counts still add up."""
    out = str(tmp_path / "out")
    _records(out, [(0, None, 100), (1, None, 50)], started=False)
    rows = {r["bucket"]: r for r in L.lineage_report(spark, out).collect()}
    assert rows["0"]["docs_per_sec"] == 100.0
    assert (rows["TOTAL"]["doc_count"], rows["TOTAL"]["wall_ms"],
            rows["TOTAL"]["docs_per_sec"]) == (20, None, None)
    assert {r["bucket"] for r in L.done_records(out)} == {0, 1}


_RETRY_SCRIPT = r"""
import json, os, shutil, sys
from functools import partial

import pyarrow.parquet as pq

sys.path.insert(0, sys.argv[1])
from pyspark import TaskContext
from ch_pdf_parse_spark.session import get_spark
from ch_pdf_parse_spark.sources import lineage as L

src_dir, out = sys.argv[2:4]
spark = get_spark("lineage-retry")  # local[2,2]: a failed task runs again
src = L.table_input(spark.read.parquet(src_dir))


def fails_first(kernel, it, corrupt):
    yield from kernel(it, corrupt=corrupt)
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("the first attempt fails after its output")


def stages(group, columns):
    return [(f, partial(fails_first, k)) for f, k in src.stages(group, columns)]


left = []  # {file: rows} still in each bucket's _tmp when it is removed
rmtree = shutil.rmtree


def rmtree_listing(path, *a, **kw):
    if os.path.basename(path) == "_tmp":
        left.append({n: pq.read_metadata(os.path.join(path, n)).num_rows
                     for n in os.listdir(path)})
    rmtree(path, *a, **kw)


shutil.rmtree = rmtree_listing
L.run_with_lineage(spark, L.FileInput(src.files, stages), out, n_buckets=2)
ids = [r.doc_id for r in L.read_output(spark, out).select("doc_id").collect()]
print(json.dumps({"left": left, "ids": ids}))
"""


def test_retried_task_commits_only_its_last_attempt(corpus_dir, tmp_path):
    """Every bucket task's first attempt fails after its parquet file is
    closed, and Spark runs the task again. Only the files the successful
    attempts name are committed: each doc once, no ``_tmp`` left."""
    import json
    import subprocess
    import sys

    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(os.path.join(corpus_dir, "documents.parquet"))
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(src / "part-0.parquet"))
    pq.write_table(t.slice(half), str(src / "part-1.parquet"))
    out = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, repo, str(src), out],
        env={**os.environ, "SPARK_GRAFT_CPUS": "2,2"}, cwd=tmp_path,
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])

    assert sorted(got["ids"]) == sorted(t.column("doc_id").to_pylist())
    # each bucket's failed attempts left closed, readable files with rows
    # behind in _tmp
    assert len(got["left"]) == 2, got["left"]
    assert all(left and all(left.values()) for left in got["left"])
    for b in range(2):
        names = os.listdir(os.path.join(out, f"bucket={b}"))
        assert "_SUCCESS" in names and "_tmp" not in names
        parts = [n for n in names if n != "_SUCCESS"]
        assert parts and all(n.startswith("part-") for n in parts)
        assert not set(parts) & set(got["left"][b])
