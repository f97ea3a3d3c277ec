"""Raw wire-format ingest: packed binary document shards → `documents` rows.

The reference's true S1 source is raw PDF bytes parsed per document
(/root/reference/predict/pdf2markdown.py:44-61: open bytes with PyMuPDF,
rasterize pages, decode into spans). The sandbox corpus is pre-parsed spans
(SURVEY §2.1), so this module supplies the missing *wire-format lifecycle* on
a deterministic stand-in container: documents are serialized to packed binary
shards, shipped as opaque bytes, and parsed back inside Spark from a
``binaryFile`` scan — the same read-bytes→decode→extract shape a raw-PDF
deployment would use, with the PDF decoder swapped for a deterministic codec
(same precedent as the multimodal decode stubs).

Container format ``CPW1`` (one shard file = many documents):

    shard   := b"CPW1" record* footer
    footer  := b"CPWE" u32(n_records)
    record  := SYNC u32(payload_len) payload u32(crc32(payload))
    payload := str(doc_id) u32(n_spans | NULL32) span*
    span    := str(kind) str(text) str(media_ref) u8(flag) i32(offset)
    str     := u32(byte_len | NULL32) utf8_bytes      # NULL32 = 0xFFFFFFFF
    SYNC    := b"\\xc5\\xd2\\x0c\\x77"                # resync marker

All integers little-endian. NULL is distinct from empty at every level
(null spans array, null text, null offset via flag=0) — the corpus and the
adversarial gate both carry such rows.

Why this shape scales to 10^12 documents:

* **Many docs per shard, not file-per-doc.** 10^12 objects would drown any
  listing/commit path; ~4 MB of packed docs per shard at sandbox scale,
  256-512 MB in production, keeps the file count at ~10^7 and each
  ``binaryFile`` task decoding one whole shard (the format is
  deliberately read-whole — parallelism comes from shard count, which the
  writer controls, not from intra-file splits).
* **Per-record CRC + sync marker.** A flipped byte costs one record, not the
  shard: the parser CRC-checks each record and on mismatch (or a corrupt
  length field) scans forward to the next SYNC marker. One corrupt record
  degrades per-record — it must never abort a 10^12-row job. A missing
  footer (truncated upload) is likewise counted, not raised.
* **Deterministic bytes.** Shard membership is ``crc32(doc_id) % n_shards``
  and records are doc_id-sorted within a shard, so the written bytes are a
  pure function of (corpus, n_shards) — resumable re-writes produce
  identical shards (idempotent overwrite; tmp + atomic rename per file
  keeps retried/speculative tasks from publishing partial shards).
* **Decode once.** Each shard is parsed once, per-record, inside
  ``mapInArrow``: by the C parser (``native.parse_shard_batch``) when it
  loads, else by the Python semantics (``_parse_shard_columnar``, which
  emits flat columns and builds the Arrow batch directly — the pandas
  object-column variant measured ~2× slower). That is exactly the
  per-document decode any raw-PDF ingest pays (the reference pays PyMuPDF
  per page); everything downstream of the parse is the existing
  zero-shuffle Arrow kernel. Corrupt records are counted by the same
  parse: ``_parse_one`` returns the count with the batch, and in a lineage
  bucket (job.py's one wire route) the ``mapInArrow`` body adds
  ``{shard_path: n_corrupt}`` to the task's own sink, which the task
  returns with the file it wrote, so only a successful attempt's count is
  kept. No audit pass reads the shards a second time, and the bucket runs
  the parse and the kernel in one ``mapInArrow`` (``_fused_extract_arrow``).
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = b"CPW1"
FOOTER_MAGIC = b"CPWE"
SYNC = b"\xc5\xd2\x0c\x77"
NULL32 = 0xFFFFFFFF
_U32 = struct.Struct("<I")
_I32 = struct.Struct("<i")

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]))),
    T.StructField("n_spans", T.IntegerType()),
])

STATS_SCHEMA = T.StructType([
    T.StructField("shard_path", T.StringType()),
    T.StructField("n_records", T.IntegerType()),
    T.StructField("n_corrupt", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
])


# ---------------------------------------------------------------- encoding

def _put_str(buf: bytearray, s: str | None) -> None:
    if s is None:
        buf += _U32.pack(NULL32)
    else:
        b = s.encode("utf-8")
        buf += _U32.pack(len(b))
        buf += b


def encode_record(doc_id: str | None, spans) -> bytes:
    """One document → one framed wire record (SYNC + len + payload + crc)."""
    payload = bytearray()
    _put_str(payload, doc_id)
    if spans is None:
        payload += _U32.pack(NULL32)
    else:
        payload += _U32.pack(len(spans))
        for s in spans:
            # accept either dict-shaped or attr-shaped span rows
            get = s.get if isinstance(s, dict) else lambda k, _s=s: getattr(_s, k)
            _put_str(payload, get("kind"))
            _put_str(payload, get("text"))
            _put_str(payload, get("media_ref"))
            off = get("offset")
            if off is None:
                payload += b"\x00" + _I32.pack(0)
            else:
                payload += b"\x01" + _I32.pack(int(off))
    return SYNC + _U32.pack(len(payload)) + bytes(payload) + \
        _U32.pack(zlib.crc32(bytes(payload)))


def _frame_shard(records: list[bytes]) -> bytes:
    """Encoded records → full shard bytes with header + footer."""
    return MAGIC + b"".join(records) + FOOTER_MAGIC + _U32.pack(len(records))


def encode_shard(rows: Iterable[tuple[str | None, object]]) -> bytes:
    """(doc_id, spans) rows → full shard bytes with header + footer."""
    return _frame_shard([encode_record(d, s) for d, s in rows])


# ---------------------------------------------------------------- decoding

class _Columns:
    """Columnar decode result: flat span columns + per-doc counts.

    The parser emits Arrow-shaped flat columns directly (one pass, no
    per-span dict objects) because the decode IS the wire path's hot loop:
    the dict-per-span variant measured ~0.8 ms/doc single-thread — slower
    than the entire downstream extraction kernel."""

    __slots__ = ("doc_ids", "counts", "kinds", "texts", "medias", "offs",
                 "corrupt")

    def __init__(self):
        self.doc_ids: list[str | None] = []
        self.counts: list[int | None] = []   # None = NULL spans array
        self.kinds: list[str | None] = []
        self.texts: list[str | None] = []
        self.medias: list[str | None] = []
        self.offs: list[int | None] = []
        self.corrupt = 0


def _parse_shard_columnar(data: bytes) -> _Columns:
    """Single-pass framing + payload decode into flat columns: the wire
    format's one Python semantics. ``native.parse_shard_batch`` is its C
    twin (same records, same ``corrupt`` count; differential-fuzzed in
    tests/test_wire_native.py).

    Corruption contract: a record whose CRC or structure fails is skipped
    (its partial appends rolled back) by scanning to the next SYNC marker; a
    truncated tail / missing footer adds one corrupt count and stops. Never
    raises on hostile bytes. ``corrupt`` is the count the job reports per
    shard.

    The span-field loop is unrolled (kind/text/media_ref written out
    instead of a `for lst in (kinds, texts, medias)` tuple loop) with
    `list.append` bound to locals: measured 1.06× single-thread over the
    looped form in a quiet window."""
    out = _Columns()
    if data[:4] != MAGIC:
        out.corrupt = 1
        return out
    u32, i32 = _U32.unpack_from, _I32.unpack_from
    find = data.find
    kinds, texts, medias, offs = out.kinds, out.texts, out.medias, out.offs
    kapp, tapp, mapp, oapp = (kinds.append, texts.append, medias.append,
                              offs.append)
    doc_app, cnt_app = out.doc_ids.append, out.counts.append
    end = len(data)
    i = 4
    while i < end:
        head = data[i:i + 4]
        if head == FOOTER_MAGIC:
            # footer count is advisory (the CRCs are the integrity check); a
            # mismatch with ZERO framing/CRC hits means records were silently
            # lost upstream — but when corruption was already counted, the
            # mismatch is explained and must not double-count the same loss
            if out.corrupt == 0 and (
                    end - i < 8 or u32(data, i + 4)[0] != len(out.doc_ids)):
                out.corrupt += 1
            return out
        mark = len(kinds)
        if head == SYNC and end - i >= 8:
            try:
                plen = u32(data, i + 4)[0]
                p0 = i + 8
                pend = p0 + plen
                if pend + 4 > end:
                    raise ValueError("bad record length")
                if u32(data, pend)[0] != zlib.crc32(data[p0:pend]):
                    raise ValueError("crc mismatch")
                pos = p0
                # doc_id
                if pos + 4 > pend:
                    raise ValueError("truncated")
                n = u32(data, pos)[0]
                pos += 4
                if n == NULL32:
                    doc_id = None
                else:
                    if pos + n > pend:
                        raise ValueError("bad string length")
                    doc_id = data[pos:pos + n].decode("utf-8")
                    pos += n
                # spans
                if pos + 4 > pend:
                    raise ValueError("truncated")
                n_spans = u32(data, pos)[0]
                pos += 4
                if n_spans == NULL32:
                    cnt = None
                else:
                    if n_spans > plen:  # a span is ≥15 bytes; sanity bound
                        raise ValueError("bad span count")
                    for _ in range(n_spans):
                        # kind
                        if pos + 4 > pend:
                            raise ValueError("truncated")
                        n = u32(data, pos)[0]
                        pos += 4
                        if n == NULL32:
                            kapp(None)
                        else:
                            e = pos + n
                            if e > pend:
                                raise ValueError("bad string length")
                            kapp(data[pos:e].decode("utf-8"))
                            pos = e
                        # text
                        if pos + 4 > pend:
                            raise ValueError("truncated")
                        n = u32(data, pos)[0]
                        pos += 4
                        if n == NULL32:
                            tapp(None)
                        else:
                            e = pos + n
                            if e > pend:
                                raise ValueError("bad string length")
                            tapp(data[pos:e].decode("utf-8"))
                            pos = e
                        # media_ref
                        if pos + 4 > pend:
                            raise ValueError("truncated")
                        n = u32(data, pos)[0]
                        pos += 4
                        if n == NULL32:
                            mapp(None)
                        else:
                            e = pos + n
                            if e > pend:
                                raise ValueError("bad string length")
                            mapp(data[pos:e].decode("utf-8"))
                            pos = e
                        # offset: 1 presence byte + 4-byte little-endian i32
                        if pos + 5 > pend:
                            raise ValueError("truncated")
                        oapp(i32(data, pos + 1)[0] if data[pos] else None)
                        pos += 5
                    cnt = n_spans
                if pos != pend:
                    raise ValueError("trailing bytes in payload")
                doc_app(doc_id)
                cnt_app(cnt)
                i = pend + 4
                continue
            except (ValueError, UnicodeDecodeError):
                del kinds[mark:], texts[mark:], medias[mark:], offs[mark:]
        # bad sync / corrupt record: count once, resync forward
        out.corrupt += 1
        nxt = find(SYNC, i + (4 if head == SYNC else 1))
        if nxt < 0:
            return out
        i = nxt
    out.corrupt += 1  # ran off the end without a footer: truncated shard
    return out


# ---------------------------------------------------------------- Spark IO

def _listed(name: str, is_dir: bool) -> bool:
    """Whether Spark's file listing keeps the file or directory ``name``:
    it hides a name that starts with ``.``, or with ``_`` and holds no
    ``=``; it also hides a directory ending in ``._COPYING_`` and keeps one
    starting with ``_metadata`` or ``_common_metadata``."""
    hidden = name.startswith(".") or (name.startswith("_") and "=" not in name)
    if is_dir:
        hidden = (hidden or name.endswith("._COPYING_")) and \
            not name.startswith(("_metadata", "_common_metadata"))
    return not hidden


def list_shards(path: str) -> list[str]:
    """The ``.cpw`` shard paths under ``path`` at any depth, sorted: the set
    the ``binaryFile`` scan (``_binary_scan``, a recursive lookup) reads, so
    shard drops that land as subdirectories are listed too."""
    out = []
    for root, dirs, files in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if _listed(d, True)]
        out += [os.path.join(root, f) for f in files
                if f.endswith(".cpw") and _listed(f, False)]
    return sorted(out)


def wire_input(spark: SparkSession, path: str):
    """The shard directory ``path`` as a ``lineage.FileInput``: its shards at
    any depth (``list_shards``, taken once), and a group's one stage, the
    ``binaryFile`` scan of exactly those shards with the fused parse and
    extraction kernel (``_fused_extract_arrow``) — what ``run_with_lineage``
    needs to make each bucket a fixed group of shards.

    The kernel adds each parsed shard's corrupt count to the sink its task
    passes in, so a bucket's counts are exactly its own shards' without
    matching paths: ``binaryFile`` spells a path as a ``file:`` URI that is
    not percent-encoded, which no plain-path comparison gets right for
    every directory name."""
    from functools import partial

    from .lineage import FileInput

    def stages(group: list[str], columns: tuple[str, ...]):
        return [(_binary_scan(spark, group),
                 partial(_fused_extract_arrow, columns=columns))]

    return FileInput(list_shards(path), stages)


def write_wire_shards(docs: DataFrame, out_dir: str, n_shards: int = 8) -> int:
    """Spark-parallel shard writer: one task per shard, deterministic bytes.

    Returns the number of shards written. ``out_dir`` must be a filesystem
    path visible to the executors (local-mode sandbox: any local dir; a real
    cluster points this at shared storage — the tmp+rename publish keeps
    retried tasks idempotent either way).
    """
    os.makedirs(out_dir, exist_ok=True)
    sharded = docs.select(
        "doc_id", "spans",
        (F.crc32(F.coalesce(F.col("doc_id"), F.lit("\x00null")).cast("binary"))
         % n_shards).cast("int").alias("shard"))

    def _write(key, pdf):
        shard = int(key[0])
        # Deterministic bytes require a TOTAL order: doc_id alone is not one
        # when ids repeat or are NULL (the corpus and the adversarial gate
        # both carry such rows) — rows tied on doc_id would keep Spark
        # arrival order, which varies with scan scheduling, breaking the
        # "bytes are a pure function of (corpus, n_shards)" contract this
        # writer documents. Tie-break on the encoded record bytes.
        recs = []
        for d, s in zip(pdf["doc_id"], pdf["spans"]):
            d = None if pd.isna(d) else d
            # a NULL array column reaches pandas as None (or NaN on some
            # Arrow paths) — both mean "spans is NULL", not "empty"
            s = None if s is None or isinstance(s, float) else s
            recs.append((d is not None, d or "", encode_record(d, s)))
        recs.sort()
        data = _frame_shard([r[2] for r in recs])
        path = os.path.join(out_dir, f"shard-{shard:05d}.cpw")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
        return pd.DataFrame({"shard_path": [path],
                             "n_records": [len(pdf)],
                             "n_corrupt": [0],
                             "n_bytes": [len(data)]})

    return len(sharded.groupBy("shard").applyInPandas(_write, STATS_SCHEMA)
               .collect())


_ARROW_SPAN = None  # built lazily: pa import stays off the module import path


def _doc_batch(cols: _Columns):
    """Flat columns → one Arrow RecordBatch in the documents schema.

    Building ListArray/StructArray from the parser's flat lists skips the
    pandas object-column hop entirely (mapInArrow, not mapInPandas)."""
    import pyarrow as pa

    global _ARROW_SPAN
    if _ARROW_SPAN is None:
        _ARROW_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                                 ("media_ref", pa.string()),
                                 ("offset", pa.int32())])
    offsets = [0]
    mask = []
    cum = 0
    for c in cols.counts:
        if c is not None:
            cum += c
        mask.append(c is None)
        offsets.append(cum)
    values = pa.StructArray.from_arrays(
        [pa.array(cols.kinds, pa.string()), pa.array(cols.texts, pa.string()),
         pa.array(cols.medias, pa.string()), pa.array(cols.offs, pa.int32())],
        fields=list(_ARROW_SPAN))
    spans = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values,
                                     mask=pa.array(mask, pa.bool_()))
    return pa.RecordBatch.from_arrays(
        [pa.array(cols.doc_ids, pa.string()), spans,
         pa.array(cols.counts, pa.int32())],
        ["doc_id", "spans", "n_spans"])


def _parse_one(content: bytes):
    """One shard → (documents RecordBatch, n_corrupt): native C parser when
    available (round 7 — framing/CRC/UTF-8 walk + Arrow buffer build at C
    speed, ~10× the Python walk; differential-fuzzed in
    tests/test_wire_native), ``_parse_shard_columnar`` otherwise."""
    from .. import native

    got = native.parse_shard_batch(content)
    if got is not None:
        return got
    cols = _parse_shard_columnar(content)
    return _doc_batch(cols), cols.corrupt


def _parse_batches(it, corrupt=None):
    """(path, content) Arrow batches → one documents batch per shard. Each
    shard's nonzero corrupt count is added to ``corrupt``, a lineage bucket
    task's sink (``add``), when one is given."""
    for batch in it:
        contents = batch.column("content").to_pylist()
        paths = (batch.column("path").to_pylist() if corrupt is not None
                 else [None] * len(contents))
        for path, content in zip(paths, contents):
            docs, n_corrupt = _parse_one(content)
            if n_corrupt and corrupt is not None:
                corrupt.add({path: n_corrupt})
            yield docs


def _binary_scan(spark: SparkSession, path: str | list[str]) -> DataFrame:
    # recursive: shard drops land as subdirectories, each with its own
    # shard numbering (``write_wire_shards``)
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.cpw")
            .option("recursiveFileLookup", "true").load(path)
            .select("path", "content"))


def read_wire(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """``binaryFile`` scan → parsed `documents` rows (doc_id, spans, n_spans).

    ``path`` is a shard directory or a list of shard paths. Corrupt records
    are dropped per-record (see ``_parse_shard_columnar``) and not counted:
    ``wire_scan_stats`` reports the counts.

    The decoded documents, for inspection and as the semantic yardstick:
    ``extract_documents(read_wire(...))`` is what ``extract_wire`` must
    equal. No job extracts this way: a mapInArrow parse is opaque to
    Catalyst, so ``extract_documents`` would plan its salted branch as a
    second full scan and parse, and the parsed spans would cross the JVM
    boundary twice."""
    return _binary_scan(spark, path).mapInArrow(_parse_batches, DOC_SCHEMA)


def _stats_arrow(it):
    import pyarrow as pa

    for batch in it:
        paths = batch.column("path").to_pylist()
        for path, content in zip(paths, batch.column("content").to_pylist()):
            docs, n_corrupt = _parse_one(content)
            yield pa.RecordBatch.from_arrays(
                [pa.array([path], pa.string()),
                 pa.array([docs.num_rows], pa.int32()),
                 pa.array([n_corrupt], pa.int32()),
                 pa.array([len(content)], pa.int64())],
                STATS_SCHEMA.names)


def wire_scan_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-shard ingest stats: (shard_path, n_records, n_corrupt, n_bytes),
    a projection of the same parse ``read_wire`` runs — it decodes every
    shard in full. A lineage bucket gets its counts from its own parse
    instead; this is for a standalone look at a directory."""
    return _binary_scan(spark, path).mapInArrow(_stats_arrow, STATS_SCHEMA)


def _fused_extract_arrow(it, columns, corrupt=None):
    """binary (path, content) batches → extraction OUTPUT batches: the
    shard parse chains straight into the extraction kernel inside one
    Python worker pass."""
    from ..pipeline import _extract_arrow

    yield from _extract_arrow(_parse_batches(it, corrupt), columns=columns)


def extract_wire(spark: SparkSession, path: str | list[str],
                 columns: tuple[str, ...] = ("spans", "markdown")
                 ) -> DataFrame:
    """Fused raw-bytes lifecycle: ``binaryFile`` scan → shard parse →
    extraction kernel in ONE ``mapInArrow`` stage. ``path`` is a shard
    directory (read at any depth) or a non-empty list of shard paths.

    The composable path (``extract_documents(read_wire(...))``) crosses the
    JVM↔Python boundary twice with the FULL spans payload: bytes cross into
    Python to parse, the parsed spans cross back to the JVM as Arrow, then
    cross into Python again for the kernel. Parsed spans ≈ the corpus text
    — at 40k bench docs that extra round trip is most of the wire path's
    2× gap vs the parquet flagship (BENCH/BASELINE.md: the identity
    round-trip of the spans column alone costs more than the whole
    extraction job). Here the parser's columnar output feeds the kernel's
    Arrow consumer directly in the same worker; only shard bytes and paths
    cross in and only (records, markdown) cross out — the decode-once shape
    a 100 TB raw-bytes ingest needs.

    Semantics: identical to ``extract_documents(read_wire(...))`` — pinned
    by test (including corrupt-shard per-record drops and null spans).
    Execution difference, by design: no oversized-doc salting. By the time
    a salted branch could see a wire document, the shard parse has already
    held the whole document in one task, so salting cannot lower per-task
    memory, which is what ``SALT_SPAN_THRESHOLD`` is set by; it would only
    spread kernel time, which costs less than the salted shuffle below ~2M
    spans (see constants.py). Corrupt records are dropped, not counted: a
    lineage bucket (``wire_input``) runs the same kernel with a sink that
    counts them."""
    from functools import partial

    from ..packaging import ensure_on_executors
    from ..pipeline import normalize_columns, output_schema

    cols = normalize_columns(columns)
    ensure_on_executors(spark)
    return _binary_scan(spark, path).mapInArrow(
        partial(_fused_extract_arrow, columns=cols),
        output_schema(cols))
