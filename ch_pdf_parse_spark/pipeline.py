"""Flagship extraction pipeline (zero-shuffle scale path).

Input (per BASELINE.json ``input_hint``)::

    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset:int>>)

Output::

    (doc_id string,
     spans array<struct<kind,text,media_ref,offset:int>>,   -- parsed_json analog
     markdown string)                                        -- mdstring analog

Design for 10^12 documents:

* Documents arrive **nested** (one row per doc), so the common case is a pure
  ``mapInArrow`` — embarrassingly parallel, **no shuffle at all**. Arrow
  batches many documents per Python call, and the C kernel
  (``native.extract_batch``) reads their buffers directly.
* The long tail of oversized documents (span count > SALT_SPAN_THRESHOLD) is
  **salted page-wise**: explode → per-(doc,page) partial extraction
  (``applyInPandas``) → per-doc stitch. This replaces the reference's
  drop-oversized-pages guard (/root/reference/train/preprocess.py:568-571)
  with skew-defeating redistribution (north_rule), because page folds are
  independent except for a single boundary bit (cross-page paragraph
  continuation, /root/reference/predict/pdf2markdown.py:571-577), which the
  stitch step resolves exactly.

Both paths reproduce the golden oracle (``core.extract_document``) bit-for-bit
— asserted by tests/test_pipeline.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from . import constants as C
from . import core

SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    T.StructField("markdown", T.StringType()),
])

_ORDERED_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("y1", T.IntegerType()),
    T.StructField("x1", T.IntegerType()),
    T.StructField("x0", T.IntegerType()),   # region_x0 from XY-cut
])

_MEDIA_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("ref", T.StringType()),
])

_PARTIAL_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("ordered", T.ArrayType(_ORDERED_STRUCT)),
    T.StructField("media", T.ArrayType(_MEDIA_STRUCT)),
])


def normalize_columns(columns) -> tuple[str, ...]:
    """Validate + canonicalize an output-column projection. One definition so
    job.py / run_with_lineage can fail fast BEFORE any write (a typo'd
    --columns must not cost a full input pass) and duplicates can't reach the
    salted branch's select (where they'd surface as a confusing unionByName
    AnalysisException). Canonical order = OUTPUT_SCHEMA order, matching the
    kernel's emit order regardless of how the caller ordered the names."""
    cols = tuple(columns)
    bad = set(cols) - {"spans", "markdown"}
    if not cols or bad or len(set(cols)) != len(cols):
        raise ValueError(
            f"columns must be non-empty, duplicate-free, and a subset of "
            f"('spans', 'markdown'); got {columns!r}")
    return tuple(c for c in ("spans", "markdown") if c in cols)


def output_schema(cols: tuple[str, ...]) -> T.StructType:
    """``doc_id`` plus the normalized output columns ``cols``, in
    ``OUTPUT_SCHEMA`` order: what every extraction route emits."""
    return T.StructType([OUTPUT_SCHEMA["doc_id"]]
                        + [f for f in OUTPUT_SCHEMA.fields if f.name in cols])


def _extract_arrow(it, columns: tuple[str, ...] = ("spans", "markdown")):
    """mapInArrow kernel with exactly two paths per batch:

    1. ``native.extract_batch``: the C kernel over the Arrow buffers
       (classification, XY-cut and fold; bit-identical to the oracle,
       differentially pinned in tests/test_extract_native.py);
    2. when it declines (no library; sliced, dictionary-encoded or empty
       input; OOM inside C), ``_extract_core``: ``core.extract_document``
       per document, the semantics itself.

    ``columns`` is manual projection pushdown through the UDF barrier:
    Catalyst prunes columns up to the scan, but nothing inside a
    mapInArrow can be pruned for it — a consumer that selects only
    ``spans`` would still pay Arrow serialization for every markdown
    string (≈ the document's full text again) unless the kernel skips
    building the column entirely."""
    from . import native

    want_spans, want_md = "spans" in columns, "markdown" in columns
    for batch in it:
        out = native.extract_batch(batch, want_spans, want_md)
        yield out if out is not None else _extract_core(batch, columns)


def _extract_core(batch, columns: tuple[str, ...]):
    """The fallback: ``core.extract_document`` per document, with the same
    output columns and Arrow types as the C kernel (int32 list offsets; the
    span struct's ``offset`` holds the record's position). The spans are
    decoded column-wise — one ``flatten()`` (which respects slicing) and
    one ``to_pylist()`` per field — because a dict per span through
    ``to_pylist`` costs more than the extraction."""
    from itertools import accumulate

    import pyarrow as pa

    spans = batch.column("spans")
    flat = spans.flatten()  # null rows contribute no spans → ([], "")
    rows = list(zip(*(flat.field(k).to_pylist()
                      for k in ("kind", "text", "media_ref", "offset"))))
    ends = list(accumulate(spans.value_lengths().fill_null(0).to_pylist(),
                           initial=0))
    out = [core.extract_document(rows[a:b])
           for a, b in zip(ends, ends[1:])]

    out_cols, out_names = [batch.column("doc_id")], ["doc_id"]
    if "spans" in columns:
        recs = [r for rs, _ in out for r in rs]
        k, t, m, o = zip(*recs) if recs else ((), (), (), ())
        struct = pa.StructArray.from_arrays(
            [pa.array(k, pa.string()), pa.array(t, pa.string()),
             pa.array(m, pa.string()), pa.array(o, pa.int32())],
            names=["kind", "text", "media_ref", "offset"])
        loffs = accumulate((len(rs) for rs, _ in out), initial=0)
        out_cols.append(pa.ListArray.from_arrays(
            pa.array(list(loffs), pa.int32()), struct))
        out_names.append("spans")
    if "markdown" in columns:
        out_cols.append(pa.array([md for _, md in out], pa.string()))
        out_names.append("markdown")
    return pa.RecordBatch.from_arrays(out_cols, names=out_names)


# ---------------------------------------------------------------------------
# salted path: per-page partials + per-doc stitch
# ---------------------------------------------------------------------------


def _extract_page_partial(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel for one (doc_id, page) group of exploded spans:
    the page-local half only (classification + XY-cut via core.prepare_page
    — the expensive work, embarrassingly parallel). The cross-page fold
    happens in _stitch_doc, so kind inheritance across page boundaries
    (a page opening as the continuation of a caption/equation, the orphan-
    caption drop quirk) is exact by construction — no boundary heuristics."""
    doc_id = pdf["doc_id"].iloc[0]
    page = int(pdf["page"].iloc[0])
    pdf = pdf.sort_values("idx")
    spans = [
        core.Span.from_raw(k, t, m, int(o), int(i))
        for k, t, m, o, i in zip(pdf["kind"], pdf["text"], pdf["media_ref"],
                                 pdf["offset"], pdf["idx"])
    ]
    ordered, media = core.prepare_page(spans)
    return pd.DataFrame([{
        "doc_id": doc_id, "page": page,
        "ordered": [{"kind": s.kind, "text": s.text, "y1": s.y1, "x1": s.x1,
                     "x0": x0} for s, x0 in ordered],
        "media": [{"kind": m.kind, "ref": m.media_ref} for m in media],
    }])


def _stitch_doc(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: run the golden fold (core.fold_page) over the
    per-page prepared results in page order. Sequential per doc but cheap —
    O(spans) string work; the parallel-expensive parts already ran."""
    pdf = pdf.sort_values("page")
    doc_id = pdf["doc_id"].iloc[0]
    state = core.ExtractState()
    for row in pdf.itertuples(index=False):
        page = int(row.page)
        ordered = [
            (core.Span(o["kind"], o["text"], "", page, o["y1"], o["x1"], i),
             o["x0"])
            for i, o in enumerate(row.ordered)
        ]
        media = [core.Span(m["kind"], "", m["ref"], page, 0, 0, 0)
                 for m in row.media]
        core.fold_page(state, page, ordered, media)
    recs, md = core.finish_document(state)
    return pd.DataFrame([{
        "doc_id": doc_id,
        "spans": [{"kind": k, "text": t, "media_ref": m, "offset": o}
                  for k, t, m, o in recs],
        "markdown": md,
    }])


def extract_documents(
    docs: DataFrame,
    salt_threshold: int = C.SALT_SPAN_THRESHOLD,
    columns: tuple[str, ...] = ("spans", "markdown"),
    max_spans: int | None = None,
) -> DataFrame:
    """End-to-end extraction. Zero-shuffle ``mapInArrow`` for regular docs;
    page-salted two-stage aggregation for the oversized long tail.

    ``columns`` selects which output columns the kernel builds AND ships
    (subset of {"spans", "markdown"}): projection pushdown through the UDF
    barrier — a spans-only consumer (the driver's ``extract_spans``) skips
    Arrow-serializing every markdown string, a markdown-only consumer
    (``extract_markdown``) skips the span arrays. Catalyst cannot do this
    pruning for a black-box mapInArrow.

    ``max_spans`` is an upper bound on the routing span count (``n_spans``)
    that the caller has proved from statistics, e.g. the parquet footers of
    the frame's files (``sources.lineage.footer_max_spans``). At or below
    ``salt_threshold`` it proves the salted branch empty, and only the
    ``mapInArrow`` branch is planned: ``PropagateEmptyRelation`` cannot fold
    the empty ``FlatMapGroupsInPandas`` subtree, whose shuffle jobs would
    otherwise still run."""
    from functools import partial

    from .packaging import ensure_on_executors

    cols = normalize_columns(columns)
    schema = output_schema(cols)

    ensure_on_executors(docs.sparkSession)
    # Route on a stored stats column when available: `n_spans` is written at
    # ingest, so the oversized-branch predicate is pushed into the scan and
    # min/max row-group pruning makes the second pass near-free (at 10^12 docs
    # the salted long tail is <0.1% of files). Fallback: compute size(spans).
    n = F.col("n_spans") if "n_spans" in docs.columns else F.size("spans")
    docs = docs.select("doc_id", "spans")
    # null spans rows must route somewhere (n is null ⇒ BOTH branch
    # predicates are unknown and the doc would silently vanish): they take
    # the small branch and extract to (empty spans, empty markdown)
    small = docs.where((n <= salt_threshold) | n.isNull())
    small_out = small.mapInArrow(partial(_extract_arrow, columns=cols), schema)
    if max_spans is not None and max_spans <= salt_threshold:
        return small_out

    big = docs.where(n > salt_threshold)
    off = F.coalesce(F.col("s.offset"), F.lit(0))  # null geometry ≡ origin
    exploded = (
        big.select("doc_id", F.posexplode("spans").alias("idx", "s"))
        .select(
            "doc_id", "idx",
            F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"), off.alias("offset"),
            # floor, not cast-truncation: a (corrupt) negative offset must
            # group under the same page that unpack_offset/np.divmod derive
            F.floor(off / F.lit(C.OFFSET_PAGE)).cast("int").alias("page"),
        )
    )
    partials = exploded.groupBy("doc_id", "page").applyInPandas(
        _extract_page_partial, _PARTIAL_SCHEMA
    )
    # the salted long tail is <0.1% of docs — it always computes both columns
    # (the stitch is the cheap half) and projects down to match
    big_out = (partials.groupBy("doc_id")
               .applyInPandas(_stitch_doc, OUTPUT_SCHEMA)
               .select("doc_id", *cols))
    return small_out.unionByName(big_out)


def read_documents(spark, path: str) -> DataFrame:
    """Read the input corpus (parquet file or Iceberg table, sources.catalog)."""
    from .sources.catalog import read_table

    return read_table(spark, path)
