"""Per-bucket checkpoint/lineage with resume-without-recompute.

North-rule requirement (SURVEY.md §4 Q7): the reference checkpoints every
5000 steps and resumes from the last checkpoint
(/root/reference/train/train_main.py:177-186,247); batch Spark has task-level
retry but no built-in *job-level* resume. This module provides it:

* the input's files are split into ``n_buckets`` fixed **file groups**:
  greedily by size, largest file first into the least-loaded bucket, never
  splitting a file. The assignment is recorded in ``_manifest.json`` and a
  resume reads it back, so ``bucket=b`` always means the same files;
* each bucket reads only its own files (a ``_metadata.file_path`` filter,
  which Spark evaluates at file-listing time, so no bucket scans another's
  files and no copy of the input is made), and is extracted and written as
  its own output partition ``bucket=b`` in one Spark job of one
  ``mapInArrow`` per stage: each task chains the extraction kernel into a
  ``pyarrow`` parquet writer, so the extracted spans never cross back to
  the JVM and Spark's writer is not used. A task writes one file under
  ``bucket=b/_tmp`` and returns one row: the file, its doc and span counts
  and its shards' corrupt counts. The driver moves exactly the named files
  into ``bucket=b`` (a failed or speculative attempt's file is never named,
  so never committed), removes ``_tmp`` and writes ``_SUCCESS``. The
  bucket's ``doc_count``/``span_count`` are the sums of the successful
  attempts' rows, so a retried task cannot double-count, and nothing
  re-reads the output;
* a parquet bucket passes ``pipeline.extract_stages`` an ``n_spans``
  bound proved from its files' row-group statistics. When the bound is at
  or below the salt threshold the salted oversized-doc branch, and its
  shuffle, are not planned; otherwise its stitched output goes through the
  same writer, in a second ``mapInArrow`` unioned into the bucket's job. A
  wire bucket runs the fused parse and extraction (the kernel of
  ``wireformat.extract_wire``), which has no salted branch;
* once the bucket's data is committed, its lineage record ``(bucket,
  doc_count, span_count, wall_ms, status, corrupt, started_ms)`` lands as its own
  one-row parquet file: written under a dot-prefixed temp name, then
  ``os.replace``d into ``_lineage/``, so a record is either whole or
  absent. ``corrupt`` maps each of the bucket's wire shards with corrupt
  records to their count, as the bucket's own parse counted them and its
  tasks returned them, so the counts survive a resume;
* on (re)start, the buckets still to do are the manifest's bucket ids minus
  the buckets with a ``done`` record, read on the driver with pyarrow — a
  killed run resumes exactly where it stopped, never recomputing a completed
  bucket and never recording one it did not finish;
* the buckets still to do run concurrently, up to the session's core count
  (``defaultParallelism``) at a time: each bucket's job has at least one
  task, so more concurrent jobs could not add throughput. The first
  failure stops new submissions; buckets already running still commit and
  record, so a rerun skips them;
* the input may **grow** between runs: files the manifest has not recorded
  are grouped the same way (``assign_groups`` over the new files alone),
  the groups that hold files are appended as new bucket ids, and the grown
  manifest lands before any new bucket runs. A rerun over a grown input
  therefore extracts only the new files — the incremental ingest of newly
  arrived drops, with the same commit and the same per-bucket records as a
  first run. A recorded file that is gone or changed (size/mtime) raises.

The bookkeeping runs no Spark job: the only jobs are one extraction job
per bucket, whose tasks write the bucket's files. Spark, pyarrow and the
resume set all skip dot- and underscore-prefixed names, so a leftover temp
record and the ``_SUCCESS`` marker of a ``_lineage`` written by an older
Spark append are both ignored; such a directory still resumes.

``out_dir`` must be a POSIX path that the driver and every executor see
(any local path in local mode): the tasks write the output files, and the
driver commits them, the manifest and the lineage records with plain file
I/O and an atomic rename.
"""

from __future__ import annotations

import heapq
import os
import shutil
import time
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass
from functools import partial, reduce
from typing import Callable
from urllib.parse import unquote, urlsplit

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..pipeline import extract_stages, normalize_columns, output_schema

LINEAGE_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("doc_count", T.LongType()),
    T.StructField("span_count", T.LongType()),
    T.StructField("wall_ms", T.LongType()),
    T.StructField("status", T.StringType()),
    # {shard path: corrupt records} for the bucket's wire shards with any
    T.StructField("corrupt", T.MapType(T.StringType(), T.LongType())),
    # epoch ms when the bucket started; null in records written before it
    T.StructField("started_ms", T.LongType()),
])

# v1 hashed bare names; v2 adds [size, mtime_ns]; v3 adds the output column
# projection (resuming with a different --columns would silently mix schemas
# across buckets); v4 makes buckets file groups, whose assignment the
# manifest records; v5 adds each bucket's corrupt counts to its record; v6
# records n_buckets, columns and every file's identity as fields instead of
# one hash, so files not yet recorded can be told apart and appended as new
# groups
SIG_VERSION = 6


def lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every lineage record as a DataFrame; empty when ``_lineage`` does not
    exist yet. An unreadable directory raises, as ``done_records`` does."""
    p = lineage_path(out_dir)
    if not os.path.isdir(p):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).parquet(p)


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
    """``bucket = pmod(hash(doc_id), n_buckets)``: the doc_id hash bucketing
    that ``run_with_lineage`` used before buckets became file groups. Nothing
    in the package calls it; it is kept because the benchmark's
    ``lineage.stage_s`` probe (perfbench/probes.py) imports it."""
    return docs.withColumn("bucket", F.pmod(F.hash("doc_id"), F.lit(n_buckets)).cast("int"))


# ------------------------------------------------------------ file groups

def file_uri(path: str) -> str:
    """One spelling per file. ``DataFrame.inputFiles()`` returns
    ``file:///dir/a%20b`` while ``_metadata.file_path`` returns
    ``file:/dir/a%20b`` (both percent-encoded the same way); compared raw,
    nothing matches and every bucket silently reads nothing. Both sides go
    through this function, which drops the empty authority."""
    return "file:/" + path[len("file:///"):] if path.startswith("file:///") \
        else path


def local_path(f: str) -> str | None:
    """The local filesystem path of ``f`` (a ``file:`` URI or a plain
    path), or None for a remote file (hdfs/s3/...)."""
    u = urlsplit(f)
    if not u.scheme:
        return f
    return unquote(u.path) if u.scheme == "file" else None


def assign_groups(sizes: dict[str, int], n_buckets: int) -> list[list[str]]:
    """Greedy size balancing: largest file first (ties by path) into the
    least-loaded bucket (ties by bucket id). A file is never split; a bucket
    may get no file. Each group is returned sorted."""
    load = [(0, b) for b in range(n_buckets)]
    groups: list[list[str]] = [[] for _ in range(n_buckets)]
    for f in sorted(sizes, key=lambda f: (-sizes[f], f)):
        size, b = heapq.heappop(load)
        groups[b].append(f)
        heapq.heappush(load, (size + sizes[f], b))
    return [sorted(g) for g in groups]


def footer_max_spans(files: list[str]) -> int | None:
    """Upper bound on ``n_spans`` over ``files``, from the parquet footers'
    row-group statistics (driver-side, no Spark job). None — no bound — when
    a file is remote or unreadable, lacks the column, or has a non-empty row
    group without min/max statistics (an all-null row group included)."""
    import pyarrow.parquet as pq

    best = 0
    for f in files:
        local = local_path(f)
        if local is None:
            return None
        try:
            md = pq.read_metadata(local)
        except Exception:
            return None
        idx = [i for i in range(md.num_columns)
               if md.schema.column(i).path == "n_spans"]
        if not idx:
            return None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = rg.column(idx[0]).statistics
            if st is None or not st.has_min_max or not isinstance(st.max, int):
                return None
            best = max(best, st.max)
    return best


def _is_stored_column(df: DataFrame, name: str) -> bool:
    """True when ``df``'s column ``name`` is a file column passed through
    unchanged: followed down the analyzed plan by expression id, it reaches
    a file relation through single-child nodes only. A recomputed column
    (``withColumn``, an alias) gets a new id; a join or union could mix in
    rows the file statistics do not cover — both answer False."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        out = plan.output()
        ids = {out.apply(i).exprId().id() for i in range(out.size())
               if out.apply(i).name() == name}
        if len(ids) != 1:
            return False
        (eid,) = ids
        while True:
            attrs = plan.output()
            if not any(attrs.apply(i).exprId().id() == eid
                       for i in range(attrs.size())):
                return False
            if plan.getClass().getSimpleName() == "LogicalRelation":
                return True
            kids = plan.children()
            if kids.size() != 1:
                return False
            plan = kids.apply(0)
    except Exception:
        return False


@dataclass(frozen=True)
class FileInput:
    """An input that is a fixed list of files, as ``run_with_lineage``
    needs it: ``files`` (the identity and grouping unit) and
    ``stages(group, columns)``, the extraction of exactly those files as
    ``(frame, kernel)`` pairs. A bucket's output, in the normalized output
    ``columns``, is the union over its stages of ``kernel(batches,
    corrupt=sink)`` run over the frame's Arrow batches (``mapInArrow``); a
    kernel that parses files reports ``{file: corrupt records}`` through
    ``sink.add``, the interface of a Spark accumulator."""

    files: list[str]
    stages: Callable[[list[str], tuple[str, ...]],
                     list[tuple[DataFrame, Callable]]]


def _no_corrupt(kernel, it, corrupt):
    """A table-route kernel in the ``FileInput`` form: parquet input has no
    corrupt records, and a None kernel passes the frame's batches on."""
    return it if kernel is None else kernel(it)


def table_input(docs: DataFrame) -> FileInput:
    """The file-backed ``docs`` frame (parquet) as a ``FileInput``: a group
    is ``pipeline.extract_stages`` over ``docs`` restricted on
    ``_metadata.file_path``, with the footers' ``n_spans`` max as its
    ``max_spans`` bound when ``docs``' ``n_spans`` is that stored column."""
    files = sorted({file_uri(f) for f in docs.inputFiles()})
    if not files:
        # createDataFrame/views have no backing files — their identity cannot
        # be established, so a reused out_dir would silently pass the guard
        raise ValueError(
            "input DataFrame has no backing files (inputFiles() is empty); "
            "resume identity cannot be established — write the input to "
            "parquet/a table first")
    from pyspark.errors import AnalysisException

    why = "a data column named _metadata shadows it"
    if "_metadata" not in docs.columns:
        try:
            docs.select("_metadata.file_path")
            why = None
        except AnalysisException as e:
            why = str(e).splitlines()[0]
    if why is not None:
        raise ValueError(
            "cannot restrict the input to a file group: the file metadata "
            "column _metadata.file_path does not resolve on this DataFrame "
            f"(read it straight from parquet files): {why}")
    path = F.col("_metadata.file_path")
    bound = footer_max_spans if _is_stored_column(docs, "n_spans") \
        else (lambda group: None)

    def stages(group: list[str], columns: tuple[str, ...]):
        return [(frame, partial(_no_corrupt, kernel))
                for frame, kernel in extract_stages(
                    docs.where(path.isin(group)), columns=columns,
                    max_spans=bound(group))]

    return FileInput(files, stages)


def _file_meta(f: str) -> list:
    """Input identity of one file from metadata only (no data scan): its
    name, plus size and mtime_ns when it is a local file (catches files
    overwritten in place under the same name)."""
    local = local_path(f)
    if local and os.path.exists(local):
        st = os.stat(local)
        # mtime_ns, not int(mtime): whole-second truncation misses same-size
        # in-place overwrites within one second
        return [f, st.st_size, st.st_mtime_ns]
    return [f]  # remote (hdfs/s3/...): name-only identity


def _manifest_groups(out_dir: str, files: list[str], n_buckets: int,
                     columns: tuple[str, ...]) -> list[list[str]]:
    """Check ``out_dir``'s manifest against this input and return its file
    groups; bucket b reads ``groups[b]``.

    The first run records ``n_buckets`` groups, empty ones included. A later
    run must have the same ``n_buckets`` and ``columns``, and every recorded
    file with its recorded size/mtime; files not yet recorded are grouped by
    ``assign_groups`` and their non-empty groups appended as new bucket ids.
    A new or grown manifest is written atomically before any bucket runs."""
    import json

    meta = {f: _file_meta(f) for f in files}

    def sizes(fs: list[str]) -> dict[str, int]:
        return {f: meta[f][1] if len(meta[f]) > 1 else 1 for f in fs}

    manifest = os.path.join(out_dir, "_manifest.json")
    if not os.path.exists(manifest):
        groups = assign_groups(sizes(files), n_buckets)
    else:
        with open(manifest) as f:
            prev = json.load(f)
        if prev.get("sig_version", 1) != SIG_VERSION:
            raise ValueError(
                f"{out_dir} holds a manifest written by an older engine "
                f"version (sig_version {prev.get('sig_version', 1)} != "
                f"{SIG_VERSION}); its identity cannot be compared — use a "
                "fresh out_dir (or delete the old one to recompute)")

        def mismatch(why: str) -> ValueError:
            return ValueError(
                f"{out_dir} holds lineage for a different input or "
                f"n_buckets ({why}); use a fresh out_dir or delete the old "
                "one")

        if (prev["n_buckets"], prev["columns"]) != (n_buckets, sorted(columns)):
            raise mismatch(
                f"manifest n_buckets={prev['n_buckets']} columns="
                f"{prev['columns']}, this run n_buckets={n_buckets} "
                f"columns={sorted(columns)}")
        recorded = {m[0]: m for m in prev["files"]}
        for f, m in recorded.items():
            if f not in meta:
                raise mismatch(f"recorded input file {f} is gone")
            if meta[f] != m:
                raise mismatch(f"recorded input file {f} changed: "
                               f"[size, mtime_ns] {m[1:]} -> {meta[f][1:]}")
        groups = prev["groups"]
        if sorted(f for g in groups for f in g) != sorted(recorded):
            raise ValueError(
                f"{out_dir}/_manifest.json: its file groups do not cover "
                "its recorded files; delete the out_dir to recompute")
        new = [f for f in files if f not in recorded]
        if not new:
            return groups
        # a growth run appends only the groups that hold files
        groups = groups + [g for g in assign_groups(sizes(new), n_buckets)
                           if g]
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"sig_version": SIG_VERSION, "n_buckets": n_buckets,
                   "columns": sorted(columns),
                   "files": [meta[f] for f in files], "groups": groups}, f)
    os.replace(tmp, manifest)
    return groups


# one row per bucket task: the file it wrote (null when it had no output
# rows), its counts, and {file: corrupt records} of the files it parsed
_TASK_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("docs", T.LongType()),
    T.StructField("spans", T.LongType()),
    T.StructField("corrupt", T.MapType(T.StringType(), T.LongType())),
    # epoch ms when the bucket started; null in records written before it
    T.StructField("started_ms", T.LongType()),
])


class _Corrupt(dict):
    """One task's ``{file: corrupt records}``, filled through an
    accumulator's ``add``. A task parses each of its files once, so a plain
    update merges."""

    add = dict.update


def _write_task(it, kernel, tmp_dir, schema):
    """``mapInArrow`` body of a lineage bucket: ``kernel`` over the task's
    input batches, written straight to one parquet file in ``tmp_dir`` (the
    extracted spans never cross back to the JVM). The file is named by a
    fresh uuid, so no two attempts share one, and is closed even when the
    kernel raises. Yields one ``_TASK_SCHEMA`` row, also when the task wrote
    no file, so a task over an all-corrupt shard still reports its count."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    corrupt = _Corrupt()
    path, writer, docs, spans = None, None, 0, 0
    try:
        for out in kernel(it, corrupt=corrupt):
            if not out.num_rows:
                continue
            if writer is None:
                path = os.path.join(tmp_dir,
                                    f"part-{uuid.uuid4().hex}.parquet")
                writer = pq.ParquetWriter(path, schema)
            if not out.schema.equals(schema):
                out = out.cast(schema)
            writer.write_batch(out)
            docs += out.num_rows
            if "spans" in schema.names:
                spans += pc.sum(pc.list_value_length(out["spans"])).as_py() or 0
    finally:
        if writer is not None:
            writer.close()
    yield pa.RecordBatch.from_pylist(
        [{"path": path, "docs": docs, "spans": spans,
          "corrupt": list(corrupt.items())}],
        schema=to_arrow_schema(_TASK_SCHEMA))


def _write_frame(source: FileInput, group: list[str],
                 columns: tuple[str, ...], tmp_dir: str) -> DataFrame:
    """A bucket's one Spark job: each of ``source``'s stages for ``group``
    with its kernel chained into ``_write_task``, unioned."""
    from pyspark.sql.pandas.types import to_arrow_schema

    write = partial(_write_task, tmp_dir=tmp_dir,
                    schema=to_arrow_schema(output_schema(columns)))
    return reduce(DataFrame.union, [
        frame.mapInArrow(partial(write, kernel=kernel), _TASK_SCHEMA)
        for frame, kernel in source.stages(group, columns)])


def _write_bucket(source: FileInput, group: list[str],
                  columns: tuple[str, ...], final: str) -> dict:
    """Extract ``group`` into the output partition ``final`` in one Spark
    job, and return its record's counts. The directory is cleared first, so
    a rerun is idempotent. The tasks write into ``final/_tmp``
    (``_write_task``); the driver moves in exactly the files their rows
    name, so the file of a failed or speculative attempt is never
    committed, and then removes ``_tmp``. A bucket with no output rows gets
    a schema-only file. ``_SUCCESS`` marks the partition complete."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    tmp = os.path.join(final, "_tmp")
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    rows = _write_frame(source, group, columns, tmp).collect() if group \
        else []
    written = [r["path"] for r in rows if r["path"]]
    for p in written:
        os.replace(p, os.path.join(final, os.path.basename(p)))
    shutil.rmtree(tmp)
    if not written:
        pq.write_table(to_arrow_schema(output_schema(columns)).empty_table(),
                       os.path.join(final, "part-empty.parquet"))
    open(os.path.join(final, "_SUCCESS"), "w").close()
    corrupt: dict[str, int] = {}
    for r in rows:
        for f, n in (r["corrupt"] or {}).items():
            corrupt[f] = max(n, corrupt.get(f, 0))
    return {"doc_count": sum(r["docs"] for r in rows),
            "span_count": sum(r["spans"] for r in rows),
            "corrupt": list(corrupt.items())}


def run_with_lineage(
    spark: SparkSession,
    docs: DataFrame | FileInput,
    out_dir: str,
    n_buckets: int = 16,
    fail_after: int | None = None,
    columns: tuple[str, ...] = ("spans", "markdown"),
) -> list[int]:
    """Extract ``docs`` bucket-by-bucket with lineage; returns the list of
    buckets computed in THIS invocation, in bucket order (buckets with a
    ``done`` record are skipped). ``n_buckets`` must be at least 1.
    ``fail_after=k`` runs only the first k buckets still to do and raises
    when any are left — the kill/resume test hook (SURVEY.md §5 property
    test 3).

    ``docs`` is a DataFrame read from parquet files (``table_input``) or a
    ``FileInput`` (``wireformat.wire_input`` for a directory of wire
    shards). Bucket b is a fixed group of its files (``assign_groups``),
    extracted and written alone by the input's ``stages``
    (``_write_bucket``). A bucket with no files runs no job, and writes a
    schema-only output and a 0/0 record.

    A manifest (n_buckets, columns, each input file with its size/mtime, and
    the bucket→files assignment) is recorded on the first call. A later call
    into the same ``out_dir`` resumes: it must have the same n_buckets and
    ``columns`` and every recorded file unchanged, or it raises instead of
    silently extracting a different file set (or writing mixed-schema
    buckets). Files added since are appended as new buckets
    (``_manifest_groups``), so a rerun over a grown input extracts only the
    new files."""
    # fail fast (and canonicalize for the manifest signature) before any
    # write — see pipeline.normalize_columns
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be at least 1, got {n_buckets}")
    columns = normalize_columns(columns)
    source = docs if isinstance(docs, FileInput) else table_input(docs)
    if not source.files:
        raise ValueError("the input has no files")
    from ..packaging import ensure_on_executors

    ensure_on_executors(spark)  # the bucket tasks run this package's writer

    os.makedirs(out_dir, exist_ok=True)
    groups = _manifest_groups(out_dir, source.files, n_buckets, columns)

    # bucket ids are the manifest's group indices — enumerating them from the
    # data would full-scan the corpus (a wasted pass at 10^12 rows)
    done = {r["bucket"] for r in done_records(out_dir)}
    todo = sorted(set(range(len(groups))) - done)

    def do_bucket(b: int) -> int:
        t0 = time.time()
        counts = _write_bucket(source, groups[b], columns,
                               os.path.join(out_dir, f"bucket={b}"))
        # the bucket's data is fully committed before its lineage record
        # lands, so a kill between the two re-extracts the bucket (idempotent
        # overwrite), never records a bucket it didn't finish
        _append_record(out_dir, {
            "bucket": b, **counts, "wall_ms": int((time.time() - t0) * 1000),
            "status": "done", "started_ms": int(t0 * 1000)})
        return b

    # the pool threads keep the caller's job group, local properties and
    # job tags (inheritable_thread_target, as pyspark.ml.tuning uses it)
    run = todo if fail_after is None else todo[:fail_after]
    computed: list[int] = []
    if run:
        target = inheritable_thread_target(spark)(do_bucket)
        workers = min(len(run), spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(workers) as pool:
            futures = [pool.submit(target, b) for b in run]
            # the first failure cancels the buckets not yet started; the
            # pool's exit waits for the running ones, which still commit
            wait(futures, return_when=FIRST_EXCEPTION)
            for f in futures:
                f.cancel()
            computed = [f.result() for f in futures]
    if len(run) < len(todo):
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return computed


def lineage_report(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-partition metrics (north_rule: 'per-partition lineage + metrics'):
    docs/sec and spans/sec per bucket plus a TOTAL row — the operational view
    of a run (skew shows up as a bucket whose docs_per_sec lags its peers).

    TOTAL ``wall_ms`` is the length of the union of the buckets'
    ``[started_ms, started_ms + wall_ms]`` intervals: concurrent buckets
    count once, and the gap between a killed run and its resume counts
    zero. It and TOTAL ``docs_per_sec`` are null when any record predates
    ``started_ms``."""
    from pyspark.sql import Window

    lin = read_lineage(spark, out_dir).where(F.col("status") == "done")
    end = F.col("started_ms") + F.col("wall_ms")
    # the part of a bucket's interval that no earlier-starting bucket covers
    covered = F.max(end).over(Window.orderBy("started_ms", "bucket")
                              .rowsBetween(Window.unboundedPreceding, -1))
    lin = lin.withColumn("new_ms", F.greatest(F.lit(0), end - F.greatest(
        "started_ms", F.coalesce(covered, F.col("started_ms")))))
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
        F.when(F.count("started_ms") == F.count("*"), F.sum("new_ms"))
        .alias("wall_ms"),
    )
    # greatest() skips nulls, so a null wall_ms must be kept null explicitly
    total = total.withColumn("docs_per_sec", F.when(
        F.col("wall_ms").isNotNull(), F.round(
            F.col("doc_count") * 1000.0 / F.greatest("wall_ms", F.lit(1)), 1)))
    return per.unionByName(total)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    parts = [os.path.join(out_dir, d) for d in os.listdir(out_dir)
             if d.startswith("bucket=")]
    return spark.read.parquet(*parts)
