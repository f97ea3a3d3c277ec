"""Differential tests: the C whole-batch extraction kernel
(native.extract_batch) must emit RecordBatches EQUAL to the core fallback
(pipeline._extract_core: core.extract_document per document) on arbitrary
inputs — nulls at every level, unknown kinds, negative/extreme offsets,
shuffled page order, CJK classification prefixes, caption/media
mismatches, and merged lines — for every ``columns`` projection.
Skipped wholesale when no C toolchain is available."""

import random

import pyarrow as pa
import pytest

from ch_pdf_parse_spark import native, pipeline

pytestmark = pytest.mark.skipif(
    not native.available(), reason="no C toolchain: core is the only path")

KINDS = [None, "", "text", "title", "equation", "figure", "table",
         "table_caption", "figure_caption", "unlabeled", "banana",
         "图异", "reference"]
TEXTS = [None, "", "hello world", "图3 stats", "表12 diff",
         "[42] citation", "[x] nope", "[１２] fullwidth",
         "摘要 body", "关键词 search",
         "<<EQ>>", "多字节 mixed ascii", "a" * 300, " lead",
         "é combining", "\U0001d11e astral"]
REFS = [None, "", "img_001.png", "table_7.png", "图.png"]


def _rand_doc(rng):
    n = rng.choice([0, 1, 2, 3, 8, 25, 60])
    spans = []
    for _ in range(n):
        if rng.random() < 0.05:
            off = None
        elif rng.random() < 0.1:
            off = rng.choice([-1, -(10**7) - 3, 2**31 - 1, -(2**31)])
        else:
            # mostly plausible page/y/x packings, incl. close lines so the
            # merge (not new_line) branch and caption grouping both fire
            page = rng.randrange(0, 3)
            y = rng.choice([0, 40, 41, 90, 91, 92, 400, 950])
            x = rng.choice([0, 4, 120, 500, 9999])
            off = page * 10**7 + y * 10**4 + x
        spans.append({"kind": rng.choice(KINDS), "text": rng.choice(TEXTS),
                      "media_ref": rng.choice(REFS), "offset": off})
    if rng.random() < 0.07:
        return None
    return spans


def _batch(rng, n_docs):
    docs = [_rand_doc(rng) for _ in range(n_docs)]
    ids = [None if rng.random() < 0.05 else f"doc_{i:04d}"
           for i in range(n_docs)]
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.string()), pa.array(docs, pa.list_(span_t))],
        ["doc_id", "spans"])


def test_native_extract_differential_fuzz():
    rng = random.Random(20260821)
    for trial in range(120):
        batch = _batch(rng, rng.choice([1, 2, 7, 40]))
        for cols in (("spans", "markdown"), ("spans",), ("markdown",)):
            got = native.extract_batch(batch, "spans" in cols,
                                       "markdown" in cols)
            assert got is not None, trial
            want = pipeline._extract_core(batch, cols)
            assert got.equals(want), (
                trial, cols, got.to_pydict(), want.to_pydict())


def test_native_extract_fixture_corpus():
    """Full fixture corpus (oversized docs, media pages, captions) through
    both paths — batch-identical, every column config."""
    from ch_pdf_parse_spark import fixtures

    docs = [fixtures.generate_document(i, 42, oversized=(i % 7 == 3))
            for i in range(60)]
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    batch = pa.RecordBatch.from_arrays(
        [pa.array([b.doc_id for b in docs], pa.string()),
         pa.array([[{"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in b.spans] for b in docs],
                  pa.list_(span_t))],
        ["doc_id", "spans"])
    for cols in (("spans", "markdown"), ("spans",), ("markdown",)):
        got = native.extract_batch(batch, "spans" in cols,
                                   "markdown" in cols)
        assert got is not None
        want = pipeline._extract_core(batch, cols)
        assert got.equals(want), cols
