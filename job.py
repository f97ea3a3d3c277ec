"""spark-submit entry point (north_rule packaging).

    python tools/make_submit_zip.py           # builds ch_pdf_parse_spark.zip
    spark-submit --driver-memory 16g \
        --py-files /tmp/ch_pdf_parse_spark.zip job.py \
        --input <documents parquet/iceberg ref> \
        --output <output dir> [--buckets 64] [--cores N] [--parallelism 8]

``--driver-memory 16g`` is required in local mode: spark-submit creates the
JVM BEFORE get_spark's config can apply, so the session's heap sizing is
silently ignored and the default 1g heap OOMs the vectorized parquet reader
on wide nested rows (heap must cover concurrent scan tasks × reader-batch
bytes — BENCH/BASELINE.md). On a real cluster the same rule applies to
``--executor-memory``.

Runs the flagship extraction with per-partition lineage: each bucket is a
fixed group of input files (parquet part files, or ``.cpw`` shards with
``--input-format wire``), read alone, extracted and written as its own
output partition; re-running after a kill resumes without recomputing
completed buckets (sources/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--no-lineage", action="store_true",
                    help="single-pass write, no checkpoint/resume (needed "
                         "for an Iceberg table: lineage buckets are groups "
                         "of parquet files or wire shards)")
    ap.add_argument("--parallelism", type=int, default=1,
                    help="buckets submitted concurrently (Spark scheduler "
                         "interleaves the jobs; use when one bucket's tasks "
                         "don't fill the cluster)")
    ap.add_argument("--columns", default="spans,markdown",
                    help="output columns to build and ship (comma-separated "
                         "subset of spans,markdown): projection pushdown "
                         "through the extraction UDF — a spans-only job "
                         "skips Arrow-shipping every markdown string")
    ap.add_argument("--input-format", choices=("table", "wire"),
                    default="table",
                    help="'table' = parquet/Iceberg documents table; 'wire' "
                         "= directory of packed binary .cpw shards "
                         "(sources/wireformat.py) read via binaryFile and "
                         "parsed per-record — the raw-bytes S1 lifecycle; "
                         "corrupt records are dropped per-record, and the "
                         "parse that drops them counts them per shard for "
                         "the report (no extra pass over the shards)")
    args = ap.parse_args()

    try:
        from ch_pdf_parse_spark.session import get_spark
    except ImportError:  # running from the repo without --py-files
        import os

        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from ch_pdf_parse_spark.session import get_spark

    from ch_pdf_parse_spark.pipeline import extract_documents
    from ch_pdf_parse_spark.sources.catalog import read_table, write_table
    from ch_pdf_parse_spark.sources.lineage import run_with_lineage

    spark = get_spark("ch-pdf-parse-extract", cores=args.cores)
    t0 = time.time()
    wire = args.input_format == "wire"
    if not wire:  # a wire read always has the documents schema
        docs = read_table(spark, args.input)
        # fail fast with a readable message BEFORE any write: a wrong table
        # (e.g. a text corpus without spans) otherwise surfaces as an
        # unresolved-column plan dump from inside the first bucket's job
        missing = {"doc_id", "spans"} - set(docs.columns)
        if missing:
            sys.exit(f"job.py: input {args.input} lacks required column(s) "
                     f"{sorted(missing)}; schema is "
                     f"{docs.schema.simpleString()} — expected the "
                     f"interleaved corpus (doc_id, spans array<struct<kind,"
                     f"text,media_ref,offset>>)")
    from ch_pdf_parse_spark.pipeline import normalize_columns

    try:
        # validate BEFORE the lineage manifest — a typo'd --columns must
        # fail here, not after a bucket's extraction
        cols = normalize_columns(
            tuple(c.strip() for c in args.columns.split(",") if c.strip()))
    except ValueError as e:
        sys.exit(f"job.py: {e}")
    # {shard path: corrupt records}, counted by the extraction's own parse
    # of each shard: no second pass over the input
    wire_corrupt = None
    if args.no_lineage:
        if wire:
            from ch_pdf_parse_spark.sources.wireformat import (
                corrupt_accumulator, extract_wire)

            acc = corrupt_accumulator(spark)
            write_table(extract_wire(spark, args.input, columns=cols,
                                     corrupt=acc), args.output)
            wire_corrupt = acc.value
        else:
            write_table(extract_documents(docs, columns=cols), args.output)
        computed = ["all"]
        # parquet count() is footer-metadata only — no second data pass
        n_docs = read_table(spark, args.output).count()
    else:
        if wire:
            from ch_pdf_parse_spark.sources.wireformat import wire_input

            docs = wire_input(spark, args.input)
        computed = run_with_lineage(spark, docs, args.output,
                                    n_buckets=args.buckets,
                                    parallelism=args.parallelism,
                                    columns=cols)
        # totals come from the lineage records (observed per bucket while
        # extracting), read on the driver — docs.count() here would be a full
        # second input scan, i.e. another 10^12-row pass for a metrics line;
        # a resumed run gets the skipped buckets' counts from their records
        from ch_pdf_parse_spark.sources.lineage import done_records

        records = done_records(args.output)
        n_docs = sum(r["doc_count"] for r in records)
        if wire:
            wire_corrupt = dict(kv for r in records
                                for kv in r["corrupt"] or ())
    wall = time.time() - t0
    out = {
        "input": args.input, "output": args.output,
        "buckets_computed": len(computed), "docs": n_docs,
        "wall_sec": round(wall, 2), "docs_per_sec": round(n_docs / wall, 1),
    }
    if wire_corrupt is not None:
        out["wire_corrupt_records"] = sum(wire_corrupt.values())
        out["wire_corrupt_shards"] = sorted(wire_corrupt)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
