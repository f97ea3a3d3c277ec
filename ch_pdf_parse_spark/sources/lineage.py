"""Per-bucket checkpoint/lineage with resume-without-recompute.

North-rule requirement (SURVEY.md §4 Q7): the reference checkpoints every
5000 steps and resumes from the last checkpoint
(/root/reference/train/train_main.py:177-186,247); batch Spark has task-level
retry but no built-in *job-level* resume. This module provides it:

* the corpus is split into ``n_buckets`` deterministic doc_id hash buckets
  (same bucketing the Iceberg table would declare: ``bucket(doc_id, N)``);
* each bucket is extracted and written as its own output partition
  ``bucket=b``. Its ``doc_count``/``span_count`` come from an unnamed
  ``Observation`` on that write (the write job's result stage, so a retried
  task cannot double-count), not from re-reading the output;
* once the bucket's data is committed, its lineage record ``(bucket,
  doc_count, span_count, wall_ms, status)`` lands as its own one-row parquet
  file: written under a dot-prefixed temp name, then ``os.replace``d into
  ``_lineage/``, so a record is either whole or absent;
* on (re)start, the buckets still to do are ``range(n_buckets)`` minus the
  buckets with a ``done`` record, read on the driver with pyarrow — a killed
  run resumes exactly where it stopped, never recomputing a completed
  bucket and never recording one it did not finish.

The bookkeeping runs no Spark job: the only jobs are the staging write and
one extraction write per bucket. Spark, pyarrow and the resume set all skip
dot- and underscore-prefixed names, so a leftover temp record and the
``_SUCCESS`` marker of a ``_lineage`` written by an older Spark append are
both ignored; such a directory still resumes.

``out_dir`` must be a local (POSIX) path: the manifest and the lineage
records are written with plain file I/O and an atomic rename.

At cluster scale each bucket is a few thousand input files / many tasks, so
the driver-side bucket loop adds negligible orchestration overhead relative
to bucket runtime; buckets could also be submitted concurrently from threads
(Spark scheduler pools) without changing the lineage protocol.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import (DataFrame, Observation, SparkSession,
                         functions as F, types as T)

LINEAGE_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("doc_count", T.LongType()),
    T.StructField("span_count", T.LongType()),
    T.StructField("wall_ms", T.LongType()),
    T.StructField("status", T.StringType()),
])


def lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    p = lineage_path(out_dir)
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(p)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def done_records(out_dir: str) -> list[dict]:
    """The ``status == "done"`` lineage records, read on the driver with
    pyarrow (no Spark job). Dot- and underscore-prefixed files are skipped,
    as Spark skips them."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    p = lineage_path(out_dir)
    if not os.path.isdir(p):
        return []
    rows = pq.read_table(p, schema=to_arrow_schema(LINEAGE_SCHEMA)).to_pylist()
    return [r for r in rows if r["status"] == "done"]


def _append_record(out_dir: str, rec: dict) -> None:
    """Land one bucket's record as its own one-row parquet file: written
    under a dot-prefixed name that every reader skips, then renamed into
    ``_lineage/``, so a kill mid-write leaves no partial record."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    d = lineage_path(out_dir)
    os.makedirs(d, exist_ok=True)
    name = f"part-{rec['bucket']:05d}-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist(
        [rec], schema=to_arrow_schema(LINEAGE_SCHEMA)), tmp)
    os.replace(tmp, os.path.join(d, name))


def with_bucket(docs: DataFrame, n_buckets: int) -> DataFrame:
    return docs.withColumn("bucket", F.pmod(F.hash("doc_id"), F.lit(n_buckets)).cast("int"))


def run_with_lineage(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    fail_after: int | None = None,
    stage_input: bool = True,
    parallelism: int = 1,
    columns: tuple[str, ...] = ("spans", "markdown"),
) -> list[int]:
    """Extract ``docs`` bucket-by-bucket with lineage; returns the list of
    buckets computed in THIS invocation (buckets with a ``done`` record are
    skipped). ``fail_after`` aborts after k buckets — the kill/resume test
    hook (SURVEY.md §5 property test 3).

    ``stage_input``: a per-bucket filter on hash(doc_id) cannot prune a plain
    parquet layout, so bucket-by-bucket extraction would re-scan the full
    input once per bucket — N full passes at 10^12 rows. Staging writes the
    input ONCE partitioned by bucket (the parquet stand-in for an Iceberg
    ``bucket(doc_id, N)`` spec); every per-bucket read is then
    directory-pruned. On an actually-bucketed Iceberg table pass False.

    Resume assumes the SAME input, bucketing AND output projection: a
    manifest (n_buckets + input file list + columns) is recorded at staging
    time; a later call into the same ``out_dir`` with a different input,
    n_buckets or ``columns`` raises instead of silently extracting against
    the stale snapshot (or writing mixed-schema buckets)."""
    import hashlib
    import json

    from ..pipeline import extract_documents, normalize_columns

    # fail fast (and canonicalize for the manifest signature) before any
    # staging work — see pipeline.normalize_columns
    columns = normalize_columns(columns)

    os.makedirs(out_dir, exist_ok=True)
    # input identity from file-level metadata only (no data scan): catches
    # appended/replaced part-files, files overwritten IN PLACE under the same
    # names (size+mtime for locally statable files), and a changed n_buckets
    files = sorted(docs.inputFiles())
    if not files:
        # createDataFrame/views have no backing files — their identity cannot
        # be established, so a reused out_dir would silently pass the guard
        # and extract against a stale _staged snapshot
        raise ValueError(
            "input DataFrame has no backing files (inputFiles() is empty); "
            "resume identity cannot be established — write the input to "
            "parquet/a table first")
    from urllib.parse import unquote, urlparse

    file_meta = []
    for f in files:
        # inputFiles() returns percent-encoded URIs ("file:/data/my%20corpus/
        # part-0"); decode before stat or paths with spaces/non-ASCII silently
        # fall back to name-only identity
        u = urlparse(f)
        local = unquote(u.path) if u.scheme in ("file", "") else None
        if local and os.path.exists(local):
            st = os.stat(local)
            # mtime_ns, not int(mtime): whole-second truncation misses
            # same-size in-place overwrites within one second
            file_meta.append([f, st.st_size, st.st_mtime_ns])
        else:  # remote (hdfs/s3/...) — name-only identity
            file_meta.append([f])
    # v1 hashed bare names; v2 adds [size, mtime_ns]; v3 adds the output
    # column projection — resuming with a different --columns would silently
    # mix schemas across buckets (half with markdown, half without), which
    # Spark's footer sampling then papers over as nulls
    SIG_VERSION = 3
    sig = hashlib.sha256(json.dumps(
        {"n_buckets": n_buckets, "files": file_meta,
         "columns": sorted(columns)}
    ).encode()).hexdigest()[:16]
    manifest = os.path.join(out_dir, "_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            prev = json.load(f)
        if prev.get("sig_version", 1) != SIG_VERSION:
            raise ValueError(
                f"{out_dir} holds a manifest written by an older engine "
                f"version (sig_version {prev.get('sig_version', 1)} != "
                f"{SIG_VERSION}); its identity cannot be compared — use a "
                "fresh out_dir (or delete the old one to recompute)")
        if prev.get("sig") != sig:
            raise ValueError(
                f"{out_dir} holds lineage/staging for a different input or "
                f"n_buckets (manifest sig {prev.get('sig')} != {sig}); "
                "use a fresh out_dir or delete the old one")
    else:
        with open(manifest, "w") as f:
            json.dump({"sig": sig, "n_buckets": n_buckets,
                       "sig_version": SIG_VERSION}, f)

    if stage_input:
        staged = os.path.join(out_dir, "_staged")
        if not os.path.exists(os.path.join(staged, "_SUCCESS")):
            # crash-safe: _SUCCESS lands last; a kill mid-staging restages
            with_bucket(docs, n_buckets).write.mode("overwrite") \
                .partitionBy("bucket").parquet(staged)
        bucketed = spark.read.parquet(staged)
    else:
        bucketed = with_bucket(docs, n_buckets)

    # bucket ids are range(n_buckets) by construction — enumerating them from
    # the data would full-scan the corpus (a wasted pass at 10^12 rows)
    done = {r["bucket"] for r in done_records(out_dir)}
    todo = sorted(set(range(n_buckets)) - done)

    def do_bucket(b: int) -> int:
        t0 = time.time()
        part = bucketed.where(F.col("bucket") == b).drop("bucket")
        out = extract_documents(part, columns=columns)
        obs = Observation()
        span_stat = (F.sum(F.size("spans")) if "spans" in out.columns
                     else F.lit(0))  # markdown-only runs carry no span count
        out.observe(obs, F.count(F.lit(1)).alias("d"), span_stat.alias("s")) \
            .write.mode("overwrite").parquet(os.path.join(out_dir, f"bucket={b}"))
        stats = obs.get
        # the bucket's data is fully committed before its lineage record
        # lands, so a kill between the two re-extracts the bucket (idempotent
        # overwrite), never records a bucket it didn't finish
        _append_record(out_dir, {
            "bucket": b, "doc_count": stats["d"], "span_count": stats["s"] or 0,
            "wall_ms": int((time.time() - t0) * 1000), "status": "done"})
        return b

    computed: list[int] = []
    if parallelism <= 1:
        for i, b in enumerate(todo):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(
                    f"injected failure after {fail_after} buckets")
            computed.append(do_bucket(b))
        return computed
    # concurrent bucket submission (Spark scheduler interleaves the jobs):
    # keeps a large cluster busy when single buckets don't fill it.
    if fail_after is not None:
        raise ValueError("fail_after is a serial-mode test hook")
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=parallelism) as pool:
        computed = list(pool.map(do_bucket, todo))
    return computed


def lineage_report(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-partition metrics (north_rule: 'per-partition lineage + metrics'):
    docs/sec and spans/sec per bucket plus a TOTAL row — the operational view
    of a run (skew shows up as a bucket whose docs_per_sec lags its peers)."""
    lin = read_lineage(spark, out_dir).where(F.col("status") == "done")
    per = lin.select(
        F.col("bucket").cast("string").alias("bucket"),
        "doc_count", "span_count", "wall_ms",
        F.round(F.col("doc_count") * 1000.0 / F.greatest("wall_ms", F.lit(1)), 1)
        .alias("docs_per_sec"),
    )
    total = lin.agg(
        F.lit("TOTAL").alias("bucket"),
        F.sum("doc_count").alias("doc_count"),
        F.sum("span_count").alias("span_count"),
        F.sum("wall_ms").alias("wall_ms"),
        F.round(F.sum("doc_count") * 1000.0
                / F.greatest(F.sum("wall_ms"), F.lit(1)), 1)
        .alias("docs_per_sec"),
    )
    return per.unionByName(total)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    parts = [os.path.join(out_dir, d) for d in os.listdir(out_dir)
             if d.startswith("bucket=")]
    return spark.read.parquet(*parts)
