"""The traced run: per-layer timings taken from outside the program.

Every probe is a call into one layer's public functions, mostly ending in a
``noop`` sink, timed inside a span. Spans (name, start, end, parent,
workload, seed, run id) stay in memory and are written to
``<run dir>/trace.jsonl`` when the run ends. A layer's self time is its
probe's time minus the probes of the layers it calls. Spark's own counters
for the workload's job come from its job group (``statusTracker``) and
from the event log, which is on in this run only.

Every traced run reports every per-layer metric. Extraction layers are
probed on the extraction corpus of the run's seed; dedup and cluster
layers on the ``dedup_small`` corpus of the seed.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from contextlib import contextmanager

_CORE_SAMPLE = 2000


class Tracer:
    def __init__(self, workload: str, seed: int, run_id: str):
        self.meta = {"workload": workload, "seed": seed, "run_id": run_id}
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.metrics: dict[str, dict] = {}

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, **self.meta})

    def timed(self, name: str, fn):
        """Run ``fn`` in a span; return (seconds, result)."""
        with self.span(name):
            t0 = time.perf_counter()
            out = fn()
            return time.perf_counter() - t0, out

    def put(self, name: str, value: float, unit: str | None = None) -> None:
        if unit is None:
            unit = ("ms" if "_ms" in name else "1/s" if name.endswith("_per_s")
                    else "s" if name.endswith("_s")
                    else "bytes" if name.endswith("bytes") else "count")
        self.metrics[name] = {"value": value, "unit": unit}

    def value(self, name: str) -> float:
        return self.metrics[name]["value"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bytes(path: str, suffix: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs if f.endswith(suffix))


# ------------------------------------------------------------ extraction

def probe_extract(tr: Tracer, ctx, table: str, wire_dir: str,
                  workload: str) -> None:
    from pyspark.sql import functions as F

    from ch_pdf_parse_spark.pipeline import extract_documents
    from ch_pdf_parse_spark.sources.catalog import read_table, write_table
    from ch_pdf_parse_spark.sources.lineage import (read_lineage,
                                                    run_with_lineage,
                                                    with_bucket)
    from ch_pdf_parse_spark.sources.wireformat import (extract_wire,
                                                       read_wire,
                                                       wire_scan_stats)

    from perfbench.corpus import oversized_ids

    spark, run_dir = ctx.spark, ctx.run_dir

    def docs():
        return read_table(spark, table)

    tr.put("catalog.scan_s", tr.timed(
        "catalog.scan", lambda: _noop(docs().select("doc_id", "spans")))[0])
    tr.put("catalog.scan_bytes", _bytes(table, ".parquet"))
    tr.put("pipeline.extract_s", tr.timed(
        "pipeline.extract", lambda: _noop(extract_documents(docs())))[0])

    def identity(it):
        yield from it

    sel = docs().select("doc_id", "spans")
    tr.put("pipeline.arrow_roundtrip_s", tr.timed(
        "pipeline.arrow_roundtrip",
        lambda: _noop(sel.mapInArrow(identity, sel.schema)))[0])
    # the oversized documents stay far below SALT_SPAN_THRESHOLD, so the
    # probe routes them down the salted branch with a threshold of 0
    big = docs().where(F.col("doc_id").isin(oversized_ids(ctx.size[
        "extract_docs"])))
    tr.put("pipeline.salted_docs", big.count())
    tr.put("pipeline.salted_s", tr.timed("pipeline.salted", lambda: _noop(
        extract_documents(big, salt_threshold=0)))[0])

    binary = (spark.read.format("binaryFile")
              .option("pathGlobFilter", "*.cpw").load(wire_dir)
              .select("path", "content"))
    tr.put("wire.binary_scan_s", tr.timed(
        "wire.binary_scan", lambda: _noop(binary))[0])
    tr.put("wire.read_s", tr.timed(
        "wire.read", lambda: _noop(read_wire(spark, wire_dir)))[0])
    dt, audit = tr.timed("wire.audit", lambda: wire_scan_stats(
        spark, wire_dir).where("n_corrupt > 0").collect())
    tr.put("wire.audit_s", dt)
    tr.put("wire.corrupt_records", sum(r["n_corrupt"] for r in audit))
    tr.put("wire.fused_s", tr.timed(
        "wire.fused", lambda: _noop(extract_wire(spark, wire_dir)))[0])
    tr.put("wire.bytes", _bytes(wire_dir, ".cpw"))

    # the write's self time on this workload's own extraction path
    out = os.path.join(run_dir, "probe-write")
    if workload == "extract_wire":
        total = tr.timed("catalog.write+wire.fused", lambda: write_table(
            extract_wire(spark, wire_dir), out))[0]
        tr.put("catalog.write_s", total - tr.value("wire.fused_s"))
    else:
        total = tr.timed("catalog.write+pipeline.extract", lambda: write_table(
            extract_documents(docs()), out))[0]
        tr.put("catalog.write_s", total - tr.value("pipeline.extract_s"))

    staged = os.path.join(run_dir, "probe-staged")
    tr.put("lineage.stage_s", tr.timed(
        "lineage.stage", lambda: with_bucket(docs(), ctx.size["buckets"])
        .write.mode("overwrite").partitionBy("bucket").parquet(staged))[0])
    lin_out = ctx.paths.get("traced_lineage_out")
    if lin_out is None:
        lin_out = os.path.join(run_dir, "probe-lineage")
        tr.timed("lineage.run", lambda: run_with_lineage(
            spark, docs(), lin_out, n_buckets=ctx.size["buckets"]))
    ms = [r["wall_ms"] for r in read_lineage(spark, lin_out)
          .where("status = 'done'").collect()]
    tr.put("lineage.bucket_ms_p50", float(statistics.median(ms)))
    tr.put("lineage.bucket_ms_max", float(max(ms)))

    probe_native_extract(tr, table, wire_dir)
    probe_core(tr, table, ctx.seed)


def _ipc_batches(table: str):
    """The corpus's small-branch rows as compacted Arrow batches, the shape
    Spark hands a ``mapInArrow`` worker."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from ch_pdf_parse_spark import constants as C

    out = []
    for f in sorted(ds.dataset(table, format="parquet").files):
        t = ds.dataset(f, format="parquet").to_table(
            columns=["doc_id", "spans"],
            filter=ds.field("n_spans") <= C.SALT_SPAN_THRESHOLD)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t.combine_chunks())
        out += pa.ipc.open_stream(sink.getvalue()).read_all().to_batches()
    return out


def probe_native_extract(tr: Tracer, table: str, wire_dir: str) -> None:
    from ch_pdf_parse_spark import native

    native.available()  # load outside the timed spans
    batches = _ipc_batches(table)
    declined = 0

    def run():
        nonlocal declined
        for b in batches:
            declined += native.extract_batch(b, True, True) is None

    dt = tr.timed("native.extract_batch", run)[0]
    tr.put("native.extract_batch_s", dt)
    tr.put("native.extract_docs_per_s", sum(b.num_rows for b in batches) / dt)
    tr.put("native.declined_batches", declined)

    shards = []
    for f in sorted(os.listdir(wire_dir)):
        if f.endswith(".cpw"):
            with open(os.path.join(wire_dir, f), "rb") as fh:
                shards.append(fh.read())
    dt = tr.timed("native.parse_shard", lambda: [
        native.parse_shard_batch(d) for d in shards])[0]
    tr.put("native.parse_shard_s", dt)
    tr.put("native.parse_mb_per_s", sum(map(len, shards)) / 1e6 / dt, "MB/s")


def probe_core(tr: Tracer, table: str, seed: int) -> None:
    """The pure-Python extraction a host without a C compiler runs, on
    ``_CORE_SAMPLE`` seeded documents."""
    import pyarrow.dataset as ds

    from ch_pdf_parse_spark import core

    t = ds.dataset(table, format="parquet").to_table(columns=["spans"])
    idx = sorted(random.Random(seed).sample(range(t.num_rows),
                                            min(_CORE_SAMPLE, t.num_rows)))
    spans = t.column("spans").take(idx).combine_chunks()
    # column-wise to Python: a dict per span through to_pylist takes seconds
    flat = spans.flatten()
    rows = list(zip(*(flat.field(k).to_pylist()
                      for k in ("kind", "text", "media_ref", "offset"))))
    ends = spans.offsets.to_pylist()
    docs = [rows[a - ends[0]:b - ends[0]] for a, b in zip(ends, ends[1:])]
    dt = tr.timed("core.extract_document",
                  lambda: [core.extract_document(d) for d in docs])[0]
    tr.put("core.extract_ms_per_doc", dt * 1000 / len(docs))


# ----------------------------------------------------------------- dedup

def probe_dedup(tr: Tracer, ctx, text_dir: str) -> None:
    from pyspark.sql import functions as F

    from ch_pdf_parse_spark import native
    from ch_pdf_parse_spark.operators.cluster import (candidate_pairs_union,
                                                      resolve_clusters)
    from ch_pdf_parse_spark.operators.dedup import (lsh_candidate_pairs,
                                                    minhash_from_text,
                                                    ngram_jaccard_pairs,
                                                    shingle_hashes, simhash,
                                                    simhash_pairs,
                                                    with_dup_corpus)
    from ch_pdf_parse_spark.registry import _t

    from perfbench.meters import job_counts

    spark = ctx.spark
    corpus = with_dup_corpus(_t(spark, text_dir, "documents"))
    tr.put("dedup.feed_s", tr.timed(
        "dedup.feed", lambda: _noop(shingle_hashes(corpus)))[0])
    tr.put("dedup.minhash_s", tr.timed(
        "dedup.minhash", lambda: _noop(minhash_from_text(corpus)))[0])
    shd = shingle_hashes(corpus).persist()
    mh = minhash_from_text(corpus).persist()
    tr.put("dedup.shingle_rows", shd.count())
    mh.count()
    # the detectors below read the two persisted tables: self times
    tr.put("dedup.lsh_s", tr.timed(
        "dedup.lsh", lambda: _noop(lsh_candidate_pairs(mh)))[0])
    tr.put("dedup.simhash_s", tr.timed(
        "dedup.simhash", lambda: _noop(simhash_pairs(simhash(shd))))[0])
    tr.put("dedup.jaccard_s", tr.timed(
        "dedup.jaccard", lambda: _noop(ngram_jaccard_pairs(shd)))[0])
    df = shd.groupBy("h").count()
    weak = df.select(F.sum(F.col("count") * (F.col("count") - 1) / 2)) \
        .collect()[0][0] or 0
    jac = ngram_jaccard_pairs(shd).count()
    tr.put("dedup.weak_pairs", int(weak))
    tr.put("dedup.jaccard_pairs", jac)
    tr.put("dedup.jaccard_yield", jac / weak if weak else 0.0, "ratio")
    pairs = candidate_pairs_union(shd, mh).distinct().persist()
    tr.put("dedup.candidate_pairs", pairs.count())
    tr.put("cluster.edges", tr.value("dedup.candidate_pairs"))
    nodes = corpus.select("doc_id").distinct().persist()
    nodes.count()
    group = "perfbench.resolve"
    spark.sparkContext.setJobGroup(group, group)
    try:
        tr.put("cluster.resolve_s", tr.timed(
            "cluster.resolve",
            lambda: resolve_clusters(nodes, pairs).toPandas())[0])
    finally:
        spark.sparkContext.setJobGroup("", "")
    tr.put("cluster.spark_jobs", job_counts(spark, group)[0])
    for t in (shd, mh, pairs, nodes):
        t.unpersist()

    import pyarrow.parquet as pq

    text = pq.read_table(os.path.join(text_dir, "documents.parquet"),
                         columns=["text"]).column("text").combine_chunks()
    native.available()
    tr.put("native.minhash_text_s", tr.timed(
        "native.minhash_text",
        lambda: native.minhash_text_batch(text, 3, 16))[0])


# ------------------------------------------------------------ traced run

# the layers on each workload's blocking path, by self time
PATH = {
    "extract_table": ("lineage.stage_s", "pipeline.extract_s",
                      "catalog.write_s"),
    "extract_wire": ("wire.audit_s", "wire.fused_s", "catalog.write_s"),
    "dedup_small": ("dedup.feed_s", "dedup.minhash_s", "dedup.lsh_s",
                    "dedup.simhash_s", "dedup.jaccard_s",
                    "cluster.resolve_s"),
}


def traced_run(wl, ctx, tree, run_id: str) -> dict:
    """The workload's job traced, in a session with the event log on, and
    untraced, then every probe."""
    from perfbench import meters, run
    from perfbench.workloads import WORKLOADS

    tr = Tracer(wl.name, ctx.seed, run_id)
    with tr.span("boot"):
        run.boot([wl], ctx)

    # One untimed job warms the JIT up. Then the traced job and the
    # untraced one each run first in a new SparkContext of that JVM. The
    # traced one runs first, with the JIT one job colder, so that
    # trace.overhead_s errs high, not low.
    with tr.span("warm-up"):
        run.timed_setup(ctx)
        *_, out0, err0 = run.measure(wl, ctx, 0, tree, warmups=0,
                                     min_timed=1)
    log_dir = os.path.join(ctx.run_dir, "eventlog")
    group = "perfbench.job"
    with tr.span("traced"):
        with tr.span("setup"):
            run.timed_setup(ctx, event_log=log_dir)
        with tr.span("job"):
            walls, _, _, out1, err1 = run.measure(wl, ctx, 0, tree, group,
                                                  warmups=0, min_timed=1)
    traced = walls[0]
    jobs, tasks = meters.job_counts(ctx.spark, group)
    with tr.span("untraced"):
        run.timed_setup(ctx)  # stops the traced SparkContext: its log ends
        walls, _, _, out2, err2 = run.measure(wl, ctx, 0, tree, warmups=0,
                                              min_timed=1)
    untraced = walls[0]

    if wl.name == "extract_table" and out1[-1] is not None:
        ctx.paths["traced_lineage_out"] = out1[-1]

    # the probes' inputs, made in this session rather than in a JVM of
    # their own, after the timed jobs: the wire shards cover both extract
    # layers
    with tr.span("inputs"):
        for w in (WORKLOADS["extract_wire"], WORKLOADS["dedup_small"]):
            w.prepare(ctx)
    with tr.span("probes"):
        probe_extract(tr, ctx, ctx.paths["table"], ctx.paths["wire"],
                      wl.name)
        probe_dedup(tr, ctx, ctx.paths["text"])
    ok = run.check_all(wl, ctx, out0 + out1 + out2, err0 + err1 + err2)
    run.stop_jvm(ctx.spark)
    ctx.spark = None

    tr.put("spark.jobs", jobs)
    tr.put("spark.tasks", tasks)
    for k, v in meters.event_log_counters(log_dir, group).items():
        tr.put(f"spark.{k}", v)
    tr.put("trace.untraced_wall_s", untraced)
    tr.put("trace.traced_wall_s", traced)
    tr.put("trace.overhead_s", traced - untraced)
    explained = sum(tr.value(m) for m in PATH[wl.name])
    tr.put("trace.remainder", 1 - explained / traced, "ratio")
    tr.dump(os.path.join(ctx.run_dir, "trace.jsonl"))
    return {"correct": all(ok), "attempted": len(ok),
            "failed": ok.count(False), "metrics": tr.metrics}
