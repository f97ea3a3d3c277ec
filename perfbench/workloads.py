"""The job-shaped workloads: inputs, the timed job, the checks.

Each workload is a closed loop of one job at a time. ``prepare`` makes the
seeded inputs (untimed, cached), ``job`` is the timed call, ``reference``
builds or loads what outputs are compared against (once per seed, cached)
and ``check`` compares one job's output with it after the timed window
closes. A check returns a list of problems; empty means correct.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field

from . import corpus

# Sizes fit a 4-core host: one extract_table job takes about 4 s and one
# dedup_small job about 7 s, most of it per-job and per-stage fixed cost, so
# a run with its set-up stays near a minute. "tiny" is the self-test's scale.
SIZES = {
    "full": {"extract_docs": 2000, "extract_files": 8, "wire_shards": 8,
             "buckets": 2, "dedup_small": 1000, "warm_extract": 64,
             "sample": 100},
    "tiny": {"extract_docs": 120, "extract_files": 4, "wire_shards": 3,
             "buckets": 2, "dedup_small": 150, "warm_extract": 16,
             "sample": 20},
}
WARMUP_SEED = 0


@dataclass
class Ctx:
    spark: object
    seed: int
    size: dict
    inputs: str     # cache of seeded inputs and references, shared by runs
    run_dir: str    # this run's outputs
    paths: dict = field(default_factory=dict)
    jobs: int = 0   # jobs run so far: numbers each job's output directory


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    return con


# ------------------------------------------------------------ extraction

def doc_hashes(out_dir: str) -> dict[str, int]:
    """doc_id -> hash of (spans, markdown) over every parquet file below
    ``out_dir`` (partition directories included, lineage tables not)."""
    con = _duck()
    try:
        rows = con.execute(
            "SELECT doc_id, hash(spans, markdown) FROM read_parquet(?, "
            "hive_partitioning = false, union_by_name = true)",
            [_parquet_files(out_dir)]).fetchall()
    finally:
        con.close()
    out: dict[str, int] = {}
    for d, h in rows:
        if d in out:  # a duplicated row is an error the caller must see
            out[d] = -1
        else:
            out[d] = h
    return out


def _parquet_files(out_dir: str) -> list[str]:
    files = []
    for root, dirs, names in os.walk(out_dir):
        # lineage bookkeeping and the staged input copy are not output
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        files += [os.path.join(root, n) for n in names
                  if n.endswith(".parquet")]
    return sorted(files)


def digest(hashes: dict[str, int]) -> str:
    """Order-insensitive digest of a whole output."""
    h = hashlib.sha256()
    for d in sorted(hashes):
        h.update(f"{d}\t{hashes[d]}\n".encode())
    return h.hexdigest()[:16]


def _rows_by_id(out_dir: str, ids: list[str]) -> dict[str, tuple]:
    con = _duck()
    try:
        rows = con.execute(
            "SELECT doc_id, spans, markdown FROM read_parquet(?, "
            "hive_partitioning = false, union_by_name = true) "
            "WHERE list_contains(?, doc_id)",
            [_parquet_files(out_dir), ids]).fetchall()
    finally:
        con.close()
    return {d: ([(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in (spans or [])], md) for d, spans, md in rows}


def sample_problems(table_dir: str, out_dir: str, seed: int, k: int,
                    among: list[str]) -> list[str]:
    """Span-sequence and markdown equality against ``core.extract_document``
    on ``k`` seeded documents of ``among``."""
    import pyarrow.dataset as ds

    from ch_pdf_parse_spark import core

    ids = random.Random(seed).sample(sorted(among), min(k, len(among)))
    tbl = ds.dataset(table_dir, format="parquet").to_table(
        columns=["doc_id", "spans"], filter=ds.field("doc_id").isin(ids))
    got = _rows_by_id(out_dir, ids)
    problems = []
    for d, spans in zip(tbl.column("doc_id").to_pylist(),
                        tbl.column("spans").to_pylist()):
        want = core.extract_document(
            [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in spans])
        if d not in got:
            problems.append(f"{d}: missing from output")
        elif got[d][0] != list(want[0]) or got[d][1] != want[1]:
            problems.append(f"{d}: differs from core.extract_document")
    return problems


class _Extract:
    """Shared inputs of the two extraction workloads: one interleaved corpus
    per (seed, size) and its reference output."""

    def inputs_ready(self, ctx: Ctx) -> bool:
        """Whether the inputs only Spark can make (the wire shards) exist."""
        n = ctx.size["extract_docs"]
        return "wire" not in self.kinds or os.path.exists(os.path.join(
            ctx.inputs, f"wire-s{ctx.seed}-n{n}", "_INPUT.json"))

    def prepare(self, ctx: Ctx) -> None:
        s = ctx.size
        ctx.paths["table"] = corpus.interleaved(
            ctx.inputs, ctx.seed, s["extract_docs"], s["extract_files"])
        if "wire" in self.kinds:
            ctx.paths["wire"] = corpus.wire(
                ctx.spark, ctx.inputs, ctx.seed, ctx.paths["table"],
                s["extract_docs"], s["wire_shards"])

    def n_docs(self, ctx: Ctx) -> int:
        return ctx.size["extract_docs"]

    def reference(self, ctx: Ctx) -> dict[str, int]:
        """Per-document hashes of ``extract_documents`` over the corpus,
        written once per seed: the plain single-pass extraction."""
        from ch_pdf_parse_spark.pipeline import extract_documents
        from ch_pdf_parse_spark.sources.catalog import read_table

        ref = os.path.join(ctx.inputs, "extract-ref-s%d-n%d" % (
            ctx.seed, ctx.size["extract_docs"]))
        if not os.path.exists(os.path.join(ref, "_SUCCESS")):
            (extract_documents(read_table(ctx.spark, ctx.paths["table"]))
             .write.mode("overwrite").parquet(ref))
        return doc_hashes(ref)


class ExtractTable(_Extract):
    """job.py's default table path: staged, bucketed, lineage-tracked
    extraction with a real parquet output."""

    name = "extract_table"
    kinds = ("interleaved",)

    def _run(self, ctx: Ctx, table: str, out: str):
        from ch_pdf_parse_spark.sources.catalog import read_table
        from ch_pdf_parse_spark.sources.lineage import run_with_lineage

        shutil.rmtree(out, ignore_errors=True)
        run_with_lineage(ctx.spark, read_table(ctx.spark, table), out,
                         n_buckets=ctx.size["buckets"])
        return out

    def job(self, ctx: Ctx, k: int):
        return self._run(ctx, ctx.paths["table"],
                         os.path.join(ctx.run_dir, f"out-{k}"))

    def check(self, ctx: Ctx, out: str, first: bool,
              ref: dict[str, int]) -> list[str]:
        got = doc_hashes(out)
        problems = _compare(got, ref)
        if first and not problems:
            problems += sample_problems(ctx.paths["table"], out, ctx.seed,
                                        ctx.size["sample"], list(got))
        return problems


class ExtractWire(_Extract):
    """job.py's wire single-pass shape: the ``wire_scan_stats`` audit, then
    ``extract_wire`` written as parquet, then a count."""

    name = "extract_wire"
    kinds = ("interleaved", "wire")

    def _run(self, ctx: Ctx, wire_dir: str, out: str):
        from ch_pdf_parse_spark.sources.catalog import read_table, write_table
        from ch_pdf_parse_spark.sources.wireformat import (extract_wire,
                                                           wire_scan_stats)

        shutil.rmtree(out, ignore_errors=True)
        bad = (wire_scan_stats(ctx.spark, wire_dir)
               .where("n_corrupt > 0").collect())
        write_table(extract_wire(ctx.spark, wire_dir), out)
        n_out = read_table(ctx.spark, out).count()
        return out, {os.path.basename(r["shard_path"]): r["n_corrupt"]
                     for r in bad}, n_out

    def job(self, ctx: Ctx, k: int):
        return self._run(ctx, ctx.paths["wire"],
                         os.path.join(ctx.run_dir, f"out-{k}"))

    def check(self, ctx: Ctx, result, first: bool,
              ref: dict[str, int]) -> list[str]:
        out, audit, n_out = result
        meta = corpus.read_meta(ctx.paths["wire"])
        problems = []
        if audit != {meta["corrupt_shard"]: 1}:
            problems.append(f"audit reported {audit}, expected one corrupt "
                            f"record in {meta['corrupt_shard']}")
        n_corrupt = sum(audit.values())
        if n_out + n_corrupt != self.n_docs(ctx):
            problems.append(f"{n_out} docs out + {n_corrupt} corrupt != "
                            f"{self.n_docs(ctx)} docs in")
        dropped = meta["corrupt_doc_id"]
        got = doc_hashes(out)
        problems += _compare(got, {d: h for d, h in ref.items()
                                   if d != dropped})
        if first and not problems:
            problems += sample_problems(ctx.paths["table"], out, ctx.seed,
                                        ctx.size["sample"], list(got))
        return problems


def _compare(got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    changed = sorted(d for d in set(got) & set(want) if got[d] != want[d])
    return [f"output differs from reference: {len(missing)} missing "
            f"{missing[:3]}, {len(extra)} unexpected {extra[:3]}, "
            f"{len(changed)} changed {changed[:3]}"]


# ----------------------------------------------------------------- dedup

def cluster_rows(pdf) -> list[tuple]:
    return sorted((None if d != d else int(d), None if c != c else int(c),
                   bool(k))
                  for d, c, k in zip(pdf["doc_id"], pdf["cluster_id"],
                                     pdf["is_keeper"]))


def rows_digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _cached_json(path: str, make):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    val = make()
    with open(path + ".tmp", "w") as f:
        json.dump(val, f)
    os.replace(path + ".tmp", path)
    return val


class DedupSmall:
    """``dedup_clusters`` over an sf0.1-shaped text corpus: few weak pairs,
    so per-stage fixed costs and the connected-components loop dominate."""

    name = "dedup_small"
    kinds = ("text",)

    def inputs_ready(self, ctx: Ctx) -> bool:
        return True  # the text corpus needs no Spark

    def n_docs(self, ctx: Ctx) -> int:
        return ctx.size[self.name]

    def prepare(self, ctx: Ctx) -> None:
        ctx.paths["text"] = corpus.text(ctx.inputs, ctx.seed,
                                        self.n_docs(ctx))

    def job(self, ctx: Ctx, k: int):
        from ch_pdf_parse_spark.operators.cluster import dedup_clusters

        return cluster_rows(dedup_clusters(ctx.spark,
                                           ctx.paths["text"]).toPandas())

    def reference(self, ctx: Ctx) -> dict:
        """DuckDB's ``SQL["dedup_clusters"]`` on the same corpus, once per
        seed."""
        from ch_pdf_parse_spark.registry import SQL

        def oracle():
            con = _duck()
            try:
                con.execute("CREATE VIEW documents AS SELECT * FROM "
                            f"read_parquet('{ctx.paths['text']}/"
                            "documents.parquet')")
                got = con.execute(SQL["dedup_clusters"]).fetchall()
            finally:
                con.close()
            return {"clusters": rows_digest(sorted(
                (d, c, bool(k)) for d, c, k in got))}

        return _cached_json(os.path.join(
            ctx.inputs, f"oracle-clusters-s{ctx.seed}-n{self.n_docs(ctx)}"
            ".json"), oracle)

    def check(self, ctx: Ctx, rows, first: bool, ref: dict) -> list[str]:
        got = rows_digest(rows)
        if got != ref["clusters"]:
            return [f"cluster digest {got} != reference {ref['clusters']}"]
        return []


WORKLOADS = {w.name: w for w in (ExtractTable(), ExtractWire(),
                                 DedupSmall())}
