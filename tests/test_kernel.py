"""Differential test: the C extraction kernel (native.extract_batch and
native.xy_cut, the flagship mapInArrow fast path) must agree bit-for-bit
with the readable golden oracle (core.extract_document / core.xy_cut) on
(records, markdown) — including oversized docs, arbitrary input span
order, pathological inputs, and dense random geometry. Native comparisons
skip when no C toolchain is available (core is then the only path)."""

import random

import pyarrow as pa
import pytest

from ch_pdf_parse_spark import constants as C
from ch_pdf_parse_spark import core, fixtures, native, pipeline

needs_native = pytest.mark.skipif(
    not native.available(), reason="no C toolchain: core is the only path")

SPAN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                    ("media_ref", pa.string()), ("offset", pa.int32())])


def _doc_batch(docs):
    """One RecordBatch in the documents schema; ``docs`` are span-tuple
    lists (None = null spans row)."""
    return pa.RecordBatch.from_arrays(
        [pa.array([f"d{i}" for i in range(len(docs))], pa.string()),
         pa.array([None if d is None else
                   [{"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in d] for d in docs], pa.list_(SPAN_T))],
        ["doc_id", "spans"])


def _batch_docs(out):
    """Output RecordBatch -> [(records with order, markdown)] per doc."""
    d = out.to_pydict()
    return [([(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in spans], md)
            for spans, md in zip(d["spans"], d["markdown"])]


def run_native(spans):
    """One-document batch through the C kernel."""
    out = native.extract_batch(_doc_batch([spans]), True, True)
    assert out is not None
    return _batch_docs(out)[0]


def native_xy_cut(boxes):
    return native.xy_cut([b[0] for b in boxes], [b[1] for b in boxes],
                         [b[2] for b in boxes], [b[3] for b in boxes],
                         C.XY_MIN_GAP_X, C.XY_MIN_GAP_Y)


@needs_native
def test_kernel_matches_oracle_on_corpus():
    rng = random.Random(7)
    docs = [fixtures.generate_document(i) for i in range(300)]
    docs += [fixtures.generate_document(i, oversized=True) for i in range(5)]
    for d in docs:
        spans = list(d.spans)
        assert run_native(spans) == core.extract_document(spans)
        rng.shuffle(spans)  # output must be order-invariant in both
        assert run_native(spans) == core.extract_document(spans)


@needs_native
def test_kernel_pathological():
    eq = core.pack_offset(0, 500, 62)
    cases = [
        [],
        [("figure", "", "m1", core.pack_offset(0, 400, 100))],
        [("table", "", "t1", core.pack_offset(0, 400, 100)),
         ("figure", "", "f1", core.pack_offset(0, 700, 100))],
        [("equation", "ignored", "", eq)],
        [("unlabeled", "图1 题注", "", core.pack_offset(0, 620, 62)),
         ("figure", "", "f1", core.pack_offset(0, 400, 62))],
        # huge page: the largest offset the int32 schema carries (page 214)
        [("text", "正文", None, 2**31 - 1)],
        [(None, "x", None, 0)],
    ]
    for spans in cases:
        assert run_native(spans) == core.extract_document(spans)


@needs_native
def test_leaf_sort_key_wide_x_band():
    """Regression: the composite leaf-sort key must stay lexicographic in
    (y1, x1, idx) for the FULL packed x1 range (0..9999). An earlier
    1024-wide x1 slot let x1*KX spill into the y1 slot, inverting reading
    order in any leaf that mixed x1 >= 1024 with differing y1 — needs a
    band of spans bridging a wide x range so no x-cut separates them."""
    spans = [("text", "桥接桥接桥接桥接桥接", "", core.pack_offset(0, 1, x))
             for x in range(700, 1801, 50)]
    spans.append(("text", "甲先来的先来的先来", "", core.pack_offset(0, 0, 1800)))
    spans.append(("text", "乙后来的后来的后来", "", core.pack_offset(0, 2, 700)))
    boxes = []
    for k, t, _, o in spans:
        _, y1, x1 = core.unpack_offset(o)
        boxes.append(core.derive_box(k, t, x1, y1))
    assert native_xy_cut(boxes) == core.xy_cut(boxes)
    assert run_native(spans) == core.extract_document(spans)
    # the y=0 span must fold first (reading order is y-major inside a leaf)
    recs, _ = core.extract_document(spans)
    assert recs[0][1].startswith("甲先来的")


@needs_native
def test_band_of_not_corrupted_by_nested_recursion():
    """Regression (confirmed bug): the shared band_of list was re-assigned
    by nested recursion (band_standalone's own y-splits) while the outer
    frame's suffix scan still read it, re-including an already-emitted
    span — 13 outputs for 12 boxes, duplicated text in records and
    markdown. Layout: two y-bands, no global x-gap; band 0's left column
    has an internal y-gap, band 1 has a column gutter."""
    boxes = ([(0, 100, 50, 112), (0, 140, 50, 152)]
             + [(100, y, 300, y + 12) for y in range(100, 151, 10)]
             + [(40, 300, 95, 312), (40, 320, 95, 332),
                (200, 300, 250, 312), (200, 320, 250, 332)])
    k = native_xy_cut(boxes)
    assert len(k) == len(boxes)
    assert k == core.xy_cut(boxes)


@needs_native
def test_xy_cut_randomized_geometry_stress():
    """Dense-coordinate randomized stress: the C XY-cut must equal
    core.xy_cut exactly (order AND region_x0) on arbitrary overlapping
    layouts — the geometry class the fixture generator never produces."""
    rng = random.Random(99)
    for _ in range(1500):
        n = rng.randint(1, 18)
        boxes = []
        for _ in range(n):
            x1 = rng.randint(0, 400)
            y1 = rng.randint(0, 400)
            boxes.append((x1, y1, x1 + rng.randint(5, 120),
                          y1 + rng.choice([8, 12, 20, 40])))
        assert native_xy_cut(boxes) == core.xy_cut(boxes)


@needs_native
def test_native_xy_cut_matches_python_fuzz():
    """The C XY-cut must agree with core.xy_cut bit-for-bit on random and
    tie-heavy layouts (stable-sort tie-breaks included)."""
    rng = random.Random(20260821)
    for trial in range(1500):
        n = rng.choice([1, 2, 3, 5, 8, 20, 60, 150])
        boxes = []
        for _ in range(n):
            x1, y1 = rng.randrange(0, 1000), rng.randrange(0, 1000)
            boxes.append((x1, y1, x1 + rng.randrange(1, 400), y1 + C.LINE_H))
        assert native_xy_cut(boxes) == core.xy_cut(boxes), (trial, n)
    for trial in range(1000):  # dense, tie-heavy (stability stress)
        n = rng.choice([10, 40, 80])
        boxes = []
        for _ in range(n):
            x1, y1 = rng.randrange(0, 12) * 10, rng.randrange(0, 15) * 14
            boxes.append((x1, y1, x1 + rng.choice([4, 40, 120]),
                          y1 + C.LINE_H))
        assert native_xy_cut(boxes) == core.xy_cut(boxes), (trial, n)


def test_native_disabled_falls_back(monkeypatch):
    """A native-library load failure must leave extraction on the core
    fallback with identical results on the fixture corpus."""
    docs = [list(fixtures.generate_document(i, 42).spans) for i in range(25)]
    docs.append(None)
    batch = _doc_batch(docs)

    def run_all():
        (out,) = pipeline._extract_arrow(iter([batch]))
        return out

    a = run_all()
    monkeypatch.setattr(native, "_LIB", None)
    monkeypatch.setattr(native, "_TRIED", True)
    assert not native.available()
    b = run_all()
    assert b.equals(a)
    assert _batch_docs(b) == [core.extract_document(d or []) for d in docs]


def test_sliced_batch_takes_core_fallback():
    """A sliced batch (which the C kernel declines) through _extract_arrow
    equals core.extract_document per doc — the only fallback a host with
    a compiler ever runs."""
    docs = [list(fixtures.generate_document(i, 5).spans) for i in range(12)]
    docs[4] = None
    docs[7] = []
    batch = _doc_batch(docs)
    sliced = batch.slice(1, len(docs) - 2)
    if native.available():
        assert native.extract_batch(sliced, True, True) is None
    for cols in (("spans", "markdown"), ("spans",), ("markdown",)):
        (out,) = pipeline._extract_arrow(iter([sliced]), columns=cols)
        assert out.schema.names == ["doc_id", *cols]
        d = out.to_pydict()
        assert d["doc_id"] == [f"d{i}" for i in range(1, len(docs) - 1)]
        want = [core.extract_document(s or []) for s in docs[1:-1]]
        if "spans" in cols:
            assert [[tuple(s.values()) for s in r] for r in d["spans"]] \
                == [r for r, _ in want]
        if "markdown" in cols:
            assert d["markdown"] == [md for _, md in want]
