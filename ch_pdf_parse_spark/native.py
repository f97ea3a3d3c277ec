"""Native (C, via ctypes) fast path of the extraction semantics, plus the
wire-shard parser and the seeded-md5 minhash kernel.

``core.py`` is the one readable definition of the per-document semantics;
this module is its one fast path. Profiling at 400k bench docs (round 7)
showed the interpreted extraction dominated by CPython overhead in the
XY-cut — pure integer geometry (stable sorts + 1-D gap grouping + a band
suffix scan) over ~60 spans/page, 14M function calls per 3k docs — not by
algorithmic work. That shape is exactly what a tiny C routine removes: no
strings, no objects, fixed int64 arithmetic.

Contract and safety:

* ``xy_cut(x1s, y1s, x2s, y2s, gx, gy)`` returns the same
  ``[(idx, region_x0)...]`` as ``core.xy_cut`` BIT-FOR-BIT — stable merge
  sorts in C mirror ``sorted(key=...)``, the composite leaf key
  (y1*KY + x1*KX + i) is the (y1, x1, idx) sort key, and the band
  suffix scan is the same. ``extract_batch`` equals
  ``core.extract_document`` per document. Both are differentially fuzzed
  in tests/test_kernel.py, tests/test_property.py and
  tests/test_extract_native.py, and run under ASan/UBSan in
  tests/test_native_sanitize.py.
* The C source is ``native.c`` beside this module, read as a package
  resource (so from a checkout or from the ``--py-files`` zip) and
  compiled ON FIRST USE in each process with the system cc into a /tmp
  cache keyed by the source sha256. The source goes to cc on stdin and
  the library is written under a per-process, per-thread name, then
  published by atomic rename, so concurrent cold workers never read a
  file another is writing. Any failure — no compiler, no ctypes,
  sandboxed /tmp — degrades silently to the Python implementation;
  ``CHPDF_NATIVE=0`` disables it explicitly. The engine never *requires*
  a compiler: the native path is an optimization, ``core`` is the
  semantics.
"""

from __future__ import annotations

import ctypes
import functools
import hashlib
import importlib.resources
import os
import subprocess
import tempfile
import threading

_LIB = None
_TRIED = False


@functools.cache
def _source() -> bytes:
    return importlib.resources.files(__package__).joinpath(
        "native.c").read_bytes()


def _compile(out: str, flags) -> subprocess.CompletedProcess:
    """The one build recipe: ``cc <flags> -shared -fPIC`` over ``native.c``
    fed on stdin, writing the library to ``out``."""
    return subprocess.run(
        ["cc", *flags, "-shared", "-fPIC", "-o", out, "-x", "c", "-"],
        input=_source(), capture_output=True, timeout=300)


def _build_lib():
    """Compile (or reuse the cached) shared object; return a ctypes lib or
    None. Never raises."""
    try:
        if os.environ.get("CHPDF_NATIVE", "1") == "0":
            return None
        tag = hashlib.sha256(_source()).hexdigest()[:16]
        cache_dir = os.path.join(tempfile.gettempdir(),
                                 f"chpdf_native_{tag}")
        so_path = os.path.join(cache_dir, "native.so")
        if not os.path.exists(so_path):
            os.makedirs(cache_dir, exist_ok=True)
            tmp_so = os.path.join(
                cache_dir,
                f"native.{os.getpid()}.{threading.get_ident()}.tmp.so")
            _compile(tmp_so, ["-O2"]).check_returncode()
            os.replace(tmp_so, so_path)  # atomic; concurrent racers agree
        lib = ctypes.CDLL(so_path)
        _protos(lib)
        return lib
    except Exception:  # noqa: BLE001 — any failure means "use Python"
        return None


def _lib():
    global _LIB, _TRIED
    if not _TRIED:
        _LIB = _build_lib()
        _TRIED = True
    return _LIB


def available() -> bool:
    return _lib() is not None


def xy_cut(x1s: list, y1s: list, x2s: list, y2s: list,
           gap_x: int, gap_y: int):
    """Fast path of ``core.xy_cut`` over (x1s, y1s, x2s, y2s) columns:
    [(local_idx, region_x0), ...] or None when the native library is
    unavailable (caller falls back to Python)."""
    lib = _lib()
    if lib is None:
        return None
    n = len(x1s)
    if n == 0:
        return []
    import numpy as np

    LL = ctypes.POINTER(ctypes.c_longlong)
    buf = np.array([x1s, y1s, x2s, y2s], dtype=np.int64)  # (4, n) C-order
    out = np.empty((2, n), dtype=np.int64)
    got = lib.xy_cut(buf.ctypes.data_as(LL), n, gap_x, gap_y,
                     out.ctypes.data_as(LL))
    if got != n:  # allocation failure inside C — degrade to Python
        return None
    o = out.tolist()
    return list(zip(o[0], o[1]))


class _StrCol(ctypes.Structure):
    _fields_ = [("vals", ctypes.POINTER(ctypes.c_ubyte)),
                ("vlen", ctypes.c_longlong), ("vcap", ctypes.c_longlong),
                ("offs", ctypes.POINTER(ctypes.c_int)),
                ("valid", ctypes.POINTER(ctypes.c_ubyte)),
                ("count", ctypes.c_longlong), ("cap", ctypes.c_longlong)]


class _Parse(ctypes.Structure):
    _fields_ = [("docid", _StrCol),
                ("counts", ctypes.POINTER(ctypes.c_int)),
                ("counts_cap", ctypes.c_longlong),
                ("kind", _StrCol), ("text", _StrCol), ("media", _StrCol),
                ("offv", ctypes.POINTER(ctypes.c_int)),
                ("offvalid", ctypes.POINTER(ctypes.c_ubyte)),
                ("off_cap", ctypes.c_longlong),
                ("n_spans", ctypes.c_longlong),
                ("corrupt", ctypes.c_int), ("oom", ctypes.c_int)]


def _str_array(col, pa, np):
    cnt = int(col.count)
    if cnt == 0:
        return pa.array([], pa.string())
    offs = np.ctypeslib.as_array(col.offs, shape=(cnt + 1,)).copy()
    vlen = int(offs[-1])
    vals = (np.ctypeslib.as_array(col.vals, shape=(vlen,)).copy()
            if vlen else np.empty(0, np.uint8))
    valid = np.ctypeslib.as_array(col.valid, shape=(cnt,)).copy()
    nulls = int(cnt - valid.sum())
    mask = (pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
            if nulls else None)
    return pa.Array.from_buffers(
        pa.utf8(), cnt, [mask, pa.py_buffer(offs), pa.py_buffer(vals)],
        null_count=nulls)


def parse_shard_batch(data: bytes):
    """(RecordBatch in the documents schema, n_corrupt) via the C parser,
    or None when the native library is unavailable / out of memory —
    callers fall back to the Python parser. Semantics are the C twin of
    ``wireformat._parse_shard_columnar`` + ``_doc_batch`` (differential-
    fuzzed in tests/test_wire_native.py)."""
    lib = _lib()
    if lib is None:
        return None
    import numpy as np
    import pyarrow as pa

    pp = lib.parse_shard_c(data, len(data))
    if not pp:
        return None
    try:
        P = pp.contents
        if P.oom:
            return None
        n_docs = int(P.docid.count)
        corrupt = int(P.corrupt)
        doc_ids = _str_array(P.docid, pa, np)
        counts = (np.ctypeslib.as_array(P.counts, shape=(n_docs,)).copy()
                  if n_docs else np.empty(0, np.int32))
        ns = int(P.n_spans)
        kinds = _str_array(P.kind, pa, np)
        texts = _str_array(P.text, pa, np)
        medias = _str_array(P.media, pa, np)
        if ns:
            offv = np.ctypeslib.as_array(P.offv, shape=(ns,)).copy()
            offvalid = np.ctypeslib.as_array(
                P.offvalid, shape=(ns,)).copy()
        else:
            offv = np.empty(0, np.int32)
            offvalid = np.empty(0, np.uint8)
    finally:
        lib.free_parse(pp)

    off_nulls = int(ns - offvalid.sum()) if ns else 0
    off_mask = (pa.py_buffer(np.packbits(offvalid, bitorder="little")
                             .tobytes()) if off_nulls else None)
    off_arr = pa.Array.from_buffers(
        pa.int32(), ns, [off_mask, pa.py_buffer(offv)],
        null_count=off_nulls)
    span_struct = pa.struct([("kind", pa.string()), ("text", pa.string()),
                             ("media_ref", pa.string()),
                             ("offset", pa.int32())])
    values = pa.StructArray.from_arrays(
        [kinds, texts, medias, off_arr], fields=list(span_struct))
    null_counts = counts < 0
    list_offs = np.zeros(n_docs + 1, dtype=np.int32)
    if n_docs:
        list_offs[1:] = (np.where(null_counts, 0, counts)
                         .cumsum().astype(np.int32))
    spans = pa.ListArray.from_arrays(
        pa.array(list_offs, pa.int32()), values,
        mask=pa.array(null_counts, pa.bool_()))
    counts_mask = (pa.py_buffer(np.packbits(~null_counts,
                                            bitorder="little").tobytes())
                   if null_counts.any() else None)
    counts_arr = pa.Array.from_buffers(
        pa.int32(), n_docs, [counts_mask, pa.py_buffer(counts)],
        null_count=int(null_counts.sum()))
    batch = pa.RecordBatch.from_arrays(
        [doc_ids, spans, counts_arr], ["doc_id", "spans", "n_spans"])
    return batch, corrupt


class _ExCfg(ctypes.Structure):
    _fields_ = ([(f, ctypes.c_longlong) for f in
                 ("header_y", "title_y", "nl_dy", "nl_dx", "char_w",
                  "line_h", "gx", "gy", "off_page", "off_y")]
                + sum([[(f, ctypes.POINTER(ctypes.c_ubyte)),
                        (f + "_len", ctypes.c_longlong)] for f in
                       ("eq", "unlab", "irrel", "sep_title", "sep_para",
                        "sep_media", "page_sep", "unmatched")], [])
                + [("want_records", ctypes.c_int),
                   ("want_markdown", ctypes.c_int)])


class _ExOut(ctypes.Structure):
    _fields_ = [("rkind", _StrCol), ("rtext", _StrCol), ("rmedia", _StrCol),
                ("counts", ctypes.POINTER(ctypes.c_int)),
                ("counts_cap", ctypes.c_longlong),
                ("n_docs", ctypes.c_longlong),
                ("md", _StrCol), ("oom", ctypes.c_int)]


def _protos(lib) -> None:
    """The one ctypes prototype table of every C entry point."""
    U8 = ctypes.POINTER(ctypes.c_ubyte)
    I32 = ctypes.POINTER(ctypes.c_int)
    I64 = ctypes.POINTER(ctypes.c_longlong)
    LL = ctypes.c_longlong
    lib.xy_cut.argtypes = [I64, ctypes.c_int, LL, LL, I64]
    lib.xy_cut.restype = ctypes.c_int
    lib.parse_shard_c.argtypes = [ctypes.c_char_p, LL]
    lib.parse_shard_c.restype = ctypes.POINTER(_Parse)
    lib.free_parse.argtypes = [ctypes.POINTER(_Parse)]
    lib.free_parse.restype = None
    lib.extract_batch.argtypes = [ctypes.POINTER(_ExCfg)] + \
        [U8, I32, U8] * 3 + [I32, U8, I32, U8, LL]
    lib.extract_batch.restype = ctypes.POINTER(_ExOut)
    lib.free_exout.argtypes = [ctypes.POINTER(_ExOut)]
    lib.free_exout.restype = None
    lib.minhash_text.argtypes = [U8, I32, U8, LL, ctypes.c_int,
                                 ctypes.c_int, I64, U8]
    lib.minhash_text.restype = LL


_EX_CONST = None


def _ex_cfg(want_records: bool, want_markdown: bool):
    """Build the C config; the bytes objects must outlive the call, so the
    encoded constants are cached on the module."""
    global _EX_CONST
    from . import constants as C

    if _EX_CONST is None:
        _EX_CONST = {k: getattr(C, v).encode("utf-8") for k, v in
                     (("eq", "EQUATION_TEXT"), ("unlab", "UNLABELED"),
                      ("irrel", "IRRELEVANT"), ("sep_title", "SEP_TITLE"),
                      ("sep_para", "SEP_PARA"), ("sep_media", "SEP_MEDIA"),
                      ("page_sep", "PAGE_SEP"),
                      ("unmatched", "UNMATCHED_CAPTION"))}
    cfg = _ExCfg()
    cfg.header_y = C.HEADER_Y_MAX
    cfg.title_y = C.TITLE_Y_MAX
    cfg.nl_dy = C.NEWLINE_DY
    cfg.nl_dx = C.NEWLINE_DX
    cfg.char_w = C.CHAR_W
    cfg.line_h = C.LINE_H
    cfg.gx = C.XY_MIN_GAP_X
    cfg.gy = C.XY_MIN_GAP_Y
    cfg.off_page = C.OFFSET_PAGE
    cfg.off_y = C.OFFSET_Y
    for name, raw in _EX_CONST.items():
        setattr(cfg, name,
                ctypes.cast(ctypes.c_char_p(raw),
                            ctypes.POINTER(ctypes.c_ubyte)))
        setattr(cfg, name + "_len", len(raw))
    cfg.want_records = int(want_records)
    cfg.want_markdown = int(want_markdown)
    return cfg


def _addr(buf, typ):
    if buf is None:
        return ctypes.cast(0, typ)
    return ctypes.cast(buf.address, typ)


def minhash_text_batch(text_arr, ngram: int, n_hash: int):
    """Seeded-md5 minhash minima for one pyarrow string array: returns
    (emit bool ndarray, mins (n, n_hash) int64 ndarray) — rows with
    emit False produced no shingles (null text or fewer than ``ngram``
    words) — or None to fall back to the Python loop (no library, sliced
    array, non-string type, zero rows, or allocation failure in C).
    Value-identical to dedup.minhash_from_text's per-row minima
    (int(md5(f"{i}:{shingle}").hexdigest()[:15], 16), min per seed) —
    differentially pinned in tests/test_native_minhash.py."""
    lib = _lib()
    if lib is None:
        return None
    import numpy as np
    import pyarrow as pa

    if isinstance(text_arr, pa.ChunkedArray):
        text_arr = text_arr.combine_chunks()
    n = len(text_arr)
    if n == 0 or text_arr.offset != 0 or text_arr.type != pa.string():
        return None
    validity, offs, data = text_arr.buffers()
    U8 = ctypes.POINTER(ctypes.c_ubyte)
    I32 = ctypes.POINTER(ctypes.c_int)
    I64 = ctypes.POINTER(ctypes.c_longlong)
    mins = np.empty((n, n_hash), dtype=np.int64)
    emit = np.zeros(n, dtype=np.uint8)
    got = lib.minhash_text(
        _addr(validity, U8), _addr(offs, I32), _addr(data, U8),
        ctypes.c_longlong(n), ctypes.c_int(ngram), ctypes.c_int(n_hash),
        mins.ctypes.data_as(I64), emit.ctypes.data_as(U8))
    if got != n:
        return None
    return emit.astype(bool), mins


def extract_batch(batch, want_spans: bool, want_md: bool):
    """RecordBatch (doc_id, spans) → extraction-output RecordBatch via the
    C kernel, or None to fall back to the Python path (no library, sliced
    arrays, dictionary-encoded columns, zero rows, or OOM inside C)."""
    lib = _lib()
    if lib is None:
        return None
    import numpy as np
    import pyarrow as pa

    n_docs = batch.num_rows
    if n_docs == 0:
        return None
    spans = batch.column("spans")
    if isinstance(spans, pa.ChunkedArray):
        spans = spans.combine_chunks()
    if spans.offset != 0:
        return None
    vals = spans.values
    if vals.offset != 0:
        return None
    fields = [vals.field(n) for n in ("kind", "text", "media_ref", "offset")]
    for a in fields[:3]:
        if a.offset != 0 or a.type != pa.string():
            return None
    if fields[3].offset != 0 or fields[3].type != pa.int32():
        return None

    U8 = ctypes.POINTER(ctypes.c_ubyte)
    I32 = ctypes.POINTER(ctypes.c_int)
    args = []
    for a in fields[:3]:
        validity, offs, data = a.buffers()
        args += [_addr(data, U8), _addr(offs, I32), _addr(validity, U8)]
    ovalidity, odata = fields[3].buffers()
    args += [_addr(odata, I32), _addr(ovalidity, U8)]
    lvalidity, loffs = spans.buffers()[:2]
    args += [_addr(loffs, I32), _addr(lvalidity, U8), n_docs]
    cfg = _ex_cfg(want_spans, want_md)
    po = lib.extract_batch(ctypes.byref(cfg), *args)
    if not po:
        return None
    try:
        O = po.contents
        if O.oom or int(O.n_docs) != n_docs:
            return None
        counts = np.ctypeslib.as_array(O.counts, shape=(n_docs,)).copy()
        if want_spans:
            kinds = _str_array(O.rkind, pa, np)
            texts = _str_array(O.rtext, pa, np)
            medias = _str_array(O.rmedia, pa, np)
        if want_md:
            md = _str_array(O.md, pa, np)
    finally:
        lib.free_exout(po)

    doc_ids = batch.column("doc_id")
    if isinstance(doc_ids, pa.ChunkedArray):
        doc_ids = doc_ids.combine_chunks()
    out_cols = [doc_ids]
    out_names = ["doc_id"]
    if want_spans:
        total = int(counts.sum())
        loffs_np = np.zeros(n_docs + 1, dtype=np.int32)
        counts64 = counts.astype(np.int64)
        loffs_np[1:] = counts64.cumsum().astype(np.int32)
        # offset column = position within the doc's records list
        starts = np.repeat(loffs_np[:-1].astype(np.int64), counts64)
        orders = (np.arange(total, dtype=np.int64) - starts).astype(np.int32)
        struct = pa.StructArray.from_arrays(
            [kinds, texts, medias, pa.array(orders, pa.int32())],
            names=["kind", "text", "media_ref", "offset"])
        out_cols.append(pa.ListArray.from_arrays(
            pa.array(loffs_np, pa.int32()), struct))
        out_names.append("spans")
    if want_md:
        out_cols.append(md)
        out_names.append("markdown")
    return pa.RecordBatch.from_arrays(out_cols, names=out_names)
