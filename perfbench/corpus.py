"""Seeded benchmark inputs, cached under the work area by (workload, seed, size).

Three generators, all pure functions of their seed:

* the interleaved ``documents(doc_id, spans, n_spans)`` corpus, built from
  ``fixtures.generate_document(i, seed, oversized)`` with one document in
  ``OVERSIZED_EVERY`` oversized, one doc_id range per file, by child
  interpreters (no JVM, so making it never delays the measured one);
* the same corpus as ``.cpw`` wire shards (``write_wire_shards``) with one
  seeded 1-byte flip inside one record's payload, so exactly one record
  fails its CRC;
* a text corpus ``documents(doc_id, text)`` drawn from the vocabulary and
  the length distribution of the sf0.1 documents table (30 words at equal
  rates, 10 to 100 words per document, about one document in twenty
  ending in the word ``dup``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import struct
import subprocess
import sys

OVERSIZED_EVERY = 500

VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
MIN_WORDS, MAX_WORDS = 10, 100
DUP_TAIL_RATE = 0.05

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SYNC = b"\xc5\xd2\x0c\x77"
_U32 = struct.Struct("<I")


def _publish(tmp: str, dest: str, meta: dict) -> str:
    with open(os.path.join(tmp, "_INPUT.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.replace(tmp, dest)
    return dest


def _cached(root: str, kind: str, seed: int, size: int) -> tuple[str, bool]:
    dest = os.path.join(root, f"{kind}-s{seed}-n{size}")
    return dest, os.path.exists(os.path.join(dest, "_INPUT.json"))


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "_INPUT.json")) as f:
        return json.load(f)


def _oversized(i: int) -> bool:
    return i > 0 and i % OVERSIZED_EVERY == 0


def oversized_ids(n_docs: int) -> list[str]:
    """doc_ids of the oversized documents of an ``n_docs`` corpus."""
    return [f"doc_{i:06d}" for i in range(n_docs) if _oversized(i)]


def _write_ranges(jobs: list) -> None:
    """Write each ``(seed, lo, hi, path)``: documents ``lo`` to ``hi`` of a
    seeded corpus as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ch_pdf_parse_spark import fixtures

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span)),
                        ("n_spans", pa.int32())])
    for seed, lo, hi, path in jobs:
        ids, spans = [], []
        for i in range(lo, hi):
            b = fixtures.generate_document(i, seed, oversized=_oversized(i))
            ids.append(b.doc_id)
            spans.append([{"kind": k, "text": t, "media_ref": m,
                           "offset": o} for k, t, m, o in b.spans])
        pq.write_table(pa.table({"doc_id": ids, "spans": spans,
                                 "n_spans": [len(s) for s in spans]},
                                schema=schema), path)


def interleaved(root: str, seed: int, n_docs: int, n_files: int,
                kind: str = "interleaved") -> str:
    """Parquet ``documents(doc_id, spans, n_spans)`` corpus in ``n_files``
    doc_id-ranged files, written by one child interpreter per core, each
    waited for."""
    dest, hit = _cached(root, kind, seed, n_docs)
    if hit:
        return dest
    tmp = _fresh(dest + ".tmp")
    bounds = [n_docs * k // n_files for k in range(n_files + 1)]
    jobs = [(seed, lo, hi, os.path.join(tmp, f"part-{k:05d}.parquet"))
            for k, (lo, hi) in enumerate(zip(bounds, bounds[1:]))]
    procs = min(len(os.sched_getaffinity(0)), n_files)
    env = {**os.environ, "PYTHONPATH": _ROOT}
    children = [subprocess.Popen(
        [sys.executable, "-m", "perfbench.corpus", json.dumps(jobs[k::procs])],
        env=env) for k in range(procs)]
    if any([c.wait() for c in children]):
        raise RuntimeError(f"making {dest} failed")
    return _publish(tmp, dest, {"seed": seed, "n_docs": n_docs,
                                "n_files": n_files})


def _fresh(path: str) -> str:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    return path


def _records(data: bytes):
    """(start, payload_start, payload_end) of every framed record in a shard."""
    i, out = 4, []
    while data[i:i + 4] == _SYNC:
        plen = _U32.unpack_from(data, i + 4)[0]
        out.append((i, i + 8, i + 8 + plen))
        i += 8 + plen + 4
    return out


def wire(spark, root: str, seed: int, table_dir: str, n_docs: int,
         n_shards: int) -> str:
    """Wire shards of the interleaved corpus with one corrupted record.

    The flipped byte sits inside one record's payload, so that record fails
    its CRC and the framing of every other record stays intact. The
    corrupted record's doc_id goes into the input's metadata."""
    from ch_pdf_parse_spark.packaging import ensure_on_executors
    from ch_pdf_parse_spark.sources.catalog import read_table
    from ch_pdf_parse_spark.sources.wireformat import write_wire_shards

    dest, hit = _cached(root, "wire", seed, n_docs)
    if hit:
        return dest
    tmp = _fresh(dest + ".tmp")
    ensure_on_executors(spark)
    write_wire_shards(read_table(spark, table_dir), tmp, n_shards=n_shards)
    rng = random.Random(seed)
    shards = sorted(f for f in os.listdir(tmp) if f.endswith(".cpw"))
    shard = rng.choice(shards)
    path = os.path.join(tmp, shard)
    with open(path, "rb") as f:
        data = bytearray(f.read())
    _, p0, p1 = rng.choice(_records(bytes(data)))
    id_len = _U32.unpack_from(data, p0)[0]
    doc_id = bytes(data[p0 + 4:p0 + 4 + id_len]).decode("utf-8")
    at = rng.randrange(p0 + 4 + id_len, p1)
    data[at] ^= 0x01
    with open(path, "wb") as f:
        f.write(data)
    return _publish(tmp, dest, {"seed": seed, "n_docs": n_docs,
                                "n_shards": n_shards,
                                "corrupt_shard": shard,
                                "corrupt_doc_id": doc_id})


def text(root: str, seed: int, n_docs: int) -> str:
    """``documents(doc_id bigint, text string)`` as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dest, hit = _cached(root, "text", seed, n_docs)
    if hit:
        return dest
    rng = random.Random(seed)
    texts = []
    for _ in range(n_docs):
        words = rng.choices(VOCAB, k=rng.randint(MIN_WORDS, MAX_WORDS))
        if rng.random() < DUP_TAIL_RATE:
            words.append("dup")
        texts.append(" ".join(words))
    tmp = _fresh(dest + ".tmp")
    pq.write_table(pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   os.path.join(tmp, "documents.parquet"))
    return _publish(tmp, dest, {"seed": seed, "n_docs": n_docs})


if __name__ == "__main__":
    _write_ranges(json.loads(sys.argv[1]))
