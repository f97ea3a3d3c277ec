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
  files and no copy of the input is made), is extracted, and is written as
  its own output partition ``bucket=b``. Its ``doc_count``/``span_count``
  come from an unnamed ``Observation`` on that write (the write job's result
  stage, so a retried task cannot double-count), not from re-reading the
  output;
* a parquet bucket passes ``pipeline.extract_documents`` an ``n_spans``
  bound proved from its files' row-group statistics. When the bound is at
  or below the salt threshold the salted oversized-doc branch, and its
  shuffle jobs, are not planned. A wire bucket runs the fused parse and
  extraction (``wireformat.extract_wire``), which has no salted branch;
* once the bucket's data is committed, its lineage record ``(bucket,
  doc_count, span_count, wall_ms, status, corrupt)`` lands as its own
  one-row parquet file: written under a dot-prefixed temp name, then
  ``os.replace``d into ``_lineage/``, so a record is either whole or
  absent. ``corrupt`` maps each of the bucket's wire shards with corrupt
  records to their count, as the bucket's own parse counted them, so the
  counts survive a resume;
* on (re)start, the buckets still to do are ``range(n_buckets)`` minus the
  buckets with a ``done`` record, read on the driver with pyarrow — a killed
  run resumes exactly where it stopped, never recomputing a completed
  bucket and never recording one it did not finish.

The bookkeeping runs no Spark job: the only jobs are one extraction write
per bucket. Spark, pyarrow and the resume set all skip dot- and
underscore-prefixed names, so a leftover temp record and the ``_SUCCESS``
marker of a ``_lineage`` written by an older Spark append are both ignored;
such a directory still resumes.

``out_dir`` must be a local (POSIX) path: the manifest and the lineage
records are written with plain file I/O and an atomic rename.

At cluster scale each bucket is a few thousand input files / many tasks, so
the driver-side bucket loop adds negligible orchestration overhead relative
to bucket runtime; buckets could also be submitted concurrently from threads
(Spark scheduler pools) without changing the lineage protocol.
"""

from __future__ import annotations

import heapq
import os
import time
import uuid
from dataclasses import dataclass
from typing import Callable
from urllib.parse import unquote, urlsplit

from pyspark.sql import (DataFrame, Observation, SparkSession,
                         functions as F, types as T)

LINEAGE_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("doc_count", T.LongType()),
    T.StructField("span_count", T.LongType()),
    T.StructField("wall_ms", T.LongType()),
    T.StructField("status", T.StringType()),
    # {shard path: corrupt records} for the bucket's wire shards with any
    T.StructField("corrupt", T.MapType(T.StringType(), T.LongType())),
])

# v1 hashed bare names; v2 adds [size, mtime_ns]; v3 adds the output column
# projection (resuming with a different --columns would silently mix schemas
# across buckets); v4 makes buckets file groups, whose assignment the
# manifest records; v5 adds each bucket's corrupt counts to its record
SIG_VERSION = 5


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
    needs it: ``files`` (the identity and grouping unit),
    ``extract(group, columns)`` (the extraction output of exactly those
    files, with the normalized output ``columns``) and ``corrupt(group)``
    (the group's ``{file: corrupt records}``, read after its extraction
    ran)."""

    files: list[str]
    extract: Callable[[list[str], tuple[str, ...]], DataFrame]
    corrupt: Callable[[list[str]], dict[str, int]] = lambda group: {}


def table_input(docs: DataFrame) -> FileInput:
    """The file-backed ``docs`` frame (parquet) as a ``FileInput``: a group
    is ``pipeline.extract_documents`` over ``docs`` restricted on
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

    def extract(group: list[str], columns: tuple[str, ...]) -> DataFrame:
        from .. import pipeline

        return pipeline.extract_documents(docs.where(path.isin(group)),
                                          columns=columns,
                                          max_spans=bound(group))

    return FileInput(files, extract)


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
    groups, or write a fresh manifest with a new assignment."""
    import hashlib
    import json

    meta = [_file_meta(f) for f in files]
    sig = hashlib.sha256(json.dumps(
        {"n_buckets": n_buckets, "files": meta, "columns": sorted(columns)}
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
                f"{out_dir} holds lineage for a different input or "
                f"n_buckets (manifest sig {prev.get('sig')} != {sig}); "
                "use a fresh out_dir or delete the old one")
        groups = prev["groups"]
        if sorted(f for g in groups for f in g) != files:
            raise ValueError(
                f"{out_dir}/_manifest.json: its file groups do not cover "
                "the input's files; delete the out_dir to recompute")
        return groups
    groups = assign_groups({m[0]: m[1] if len(m) > 1 else 1 for m in meta},
                           n_buckets)
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"sig": sig, "n_buckets": n_buckets,
                   "sig_version": SIG_VERSION, "groups": groups}, f)
    os.replace(tmp, manifest)
    return groups


def run_with_lineage(
    spark: SparkSession,
    docs: DataFrame | FileInput,
    out_dir: str,
    n_buckets: int = 16,
    fail_after: int | None = None,
    parallelism: int = 1,
    columns: tuple[str, ...] = ("spans", "markdown"),
) -> list[int]:
    """Extract ``docs`` bucket-by-bucket with lineage; returns the list of
    buckets computed in THIS invocation (buckets with a ``done`` record are
    skipped). ``fail_after`` aborts after k buckets — the kill/resume test
    hook (SURVEY.md §5 property test 3).

    ``docs`` is a DataFrame read from parquet files (``table_input``) or a
    ``FileInput`` (``wireformat.wire_input`` for a directory of wire
    shards). Bucket b is a fixed group of its files (``assign_groups``),
    extracted alone by the input's ``extract``. A bucket with no files
    writes an empty output and a 0/0 record.

    Resume assumes the SAME input, bucketing AND output projection: a
    manifest (n_buckets + input file list with size/mtime + columns, and the
    bucket→files assignment) is recorded on the first call; a later call
    into the same ``out_dir`` with a different input, n_buckets or
    ``columns`` raises instead of silently extracting a different file set
    (or writing mixed-schema buckets)."""
    from ..pipeline import normalize_columns

    # fail fast (and canonicalize for the manifest signature) before any
    # write — see pipeline.normalize_columns
    columns = normalize_columns(columns)
    source = docs if isinstance(docs, FileInput) else table_input(docs)
    if not source.files:
        raise ValueError("the input has no files")

    os.makedirs(out_dir, exist_ok=True)
    groups = _manifest_groups(out_dir, source.files, n_buckets, columns)

    # bucket ids are range(n_buckets) by construction — enumerating them from
    # the data would full-scan the corpus (a wasted pass at 10^12 rows)
    done = {r["bucket"] for r in done_records(out_dir)}
    todo = sorted(set(range(n_buckets)) - done)

    def do_bucket(b: int) -> int:
        t0 = time.time()
        group = groups[b]
        out = source.extract(group, columns)
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
            "wall_ms": int((time.time() - t0) * 1000), "status": "done",
            "corrupt": list(source.corrupt(group).items())})
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
