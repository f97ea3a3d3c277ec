"""Pure-Python semantic kernel for the CH-PDF-Parse rebuild.

This module has **no Spark dependency**. It is used three ways:

1. as the *golden oracle* for pytest (SURVEY.md §5: span-sequence equality
   ``(kind, text, media_ref, order)``),
2. as the per-document fallback of the flagship zero-shuffle ``mapInArrow``
   pipeline (``pipeline.py``) whenever the C kernel (``native.py``, its one
   fast path) declines a batch, and as the salted path's per-page kernel,
3. as the executable specification the relational (pure-DataFrame) pipeline is
   differentially tested against.

Semantics are re-expressed from the reference (read-only at /root/reference):

* decode ladder + page fold: ``predict/pdf2markdown.py:380-683``
* caption grouping: ``predict/pdf2markdown.py:519-546``
* greedy-by-index caption↔media matching (the distance at ``:107-110`` is
  computed then discarded; ``ranklist.sort(key=x[0])`` at ``:111,138`` sorts by
  caption *index*): ``predict/pdf2markdown.py:64-150``
* reading order: the reference uses a learned regression head
  (``train/layoutlmv3_modeling.py:1188-1194``); the rebuild substitutes a
  deterministic recursive XY-cut over span geometry.
* paragraph boundary: learned 2-class head (``:1195-1199``); substituted by a
  deterministic geometric rule (indent / vertical-gap / column transition).
* segment-type classification: learned 10-class head (``:1172-1177``);
  substituted by a text/geometry rule ladder.

None of the reference's code is copied; the learned components are replaced by
deterministic surrogates with identical output contracts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import constants as C

# ---------------------------------------------------------------------------
# offset codec (FIXTURES.md §1)
# ---------------------------------------------------------------------------


def pack_offset(page: int, y1: int, x1: int) -> int:
    if not (0 <= y1 < 1000 and 0 <= x1 < C.OFFSET_Y):
        raise ValueError(f"unpackable geometry y1={y1} x1={x1}")
    return page * C.OFFSET_PAGE + y1 * C.OFFSET_Y + x1


def unpack_offset(offset: int) -> tuple[int, int, int]:
    """offset -> (page, y1, x1)."""
    page, rem = divmod(offset, C.OFFSET_PAGE)
    y1, x1 = divmod(rem, C.OFFSET_Y)
    return page, y1, x1


def derive_box(kind: str, text: str, x1: int, y1: int) -> tuple[int, int, int, int]:
    """Deterministic (x1, y1, x2, y2) shared by generator and engine.

    The input table packs only (page, y1, x1); width/height are a pure
    function of the text (FIXTURES.md §1). Media extents are nominal — the
    reference computes caption↔media distances from them and then discards the
    distances (predict/pdf2markdown.py:111,138), so they carry no semantics.
    """
    if kind in ("figure", "table"):
        return x1, y1, x1 + 300, y1 + 200
    return x1, y1, x1 + C.CHAR_W * max(len(text), 1), y1 + C.LINE_H


# ---------------------------------------------------------------------------
# M1 surrogate: segment-type classification rule ladder
# (contract of the 10-class head, train/layoutlmv3_modeling.py:1172-1177;
#  decode ladder predict/pdf2markdown.py:380-510)
# ---------------------------------------------------------------------------


def classify_kind(text: str, page: int, y1: int) -> str:
    # ASCII digits only ("0" <= c <= "9"), never str.isdigit(): isdigit also
    # accepts full-width digits (１) and superscripts (²), which would
    # silently diverge from the relational twin's rlike('[0-9]') and the
    # DuckDB oracles' regexes.
    if text == C.EQUATION_TEXT:
        return "equation"
    if text[:1] == "图" and "0" <= text[1:2] <= "9":
        return "figure_caption"
    if text[:1] == "表" and "0" <= text[1:2] <= "9":
        return "table_caption"
    if text[:1] == "[":
        i = 1
        while i < len(text) and "0" <= text[i] <= "9":
            i += 1
        if i > 1 and i < len(text) and text[i] == "]":
            return "reference"
    if text.startswith("摘要"):
        return "abstract"
    if text.startswith("关键词"):
        return "keyword"
    if y1 < C.HEADER_Y_MAX:
        return "header"
    if page == 0 and y1 < C.TITLE_Y_MAX:
        return "title"
    return "text"


# ---------------------------------------------------------------------------
# M3 surrogate: XY-cut reading order
# ---------------------------------------------------------------------------


def _gaps(intervals: list[tuple[int, int]], min_gap: int) -> list[int]:
    """Split points of the merged interval union where a gap >= min_gap opens."""
    ivs = sorted(intervals)
    cuts: list[int] = []
    hi = ivs[0][1]
    for a, b in ivs[1:]:
        if a - hi >= min_gap:
            cuts.append(hi)
        hi = max(hi, b)
    return cuts


def _groups_1d(idxs: list[int], lo, hi, min_gap: int) -> list[list[int]]:
    """Maximal runs of ``idxs`` (pre-sorted by lo) whose interval union has no
    gap >= min_gap; adjacent runs are separated by such a gap."""
    groups: list[list[int]] = []
    cur = [idxs[0]]
    cur_hi = hi[idxs[0]]
    for i in idxs[1:]:
        if lo[i] - cur_hi >= min_gap:
            groups.append(cur)
            cur = [i]
            cur_hi = hi[i]
        else:
            cur.append(i)
            if hi[i] > cur_hi:
                cur_hi = hi[i]
    groups.append(cur)
    return groups


def xy_cut(boxes: list[tuple[int, int, int, int]]) -> list[tuple[int, int]]:
    """Deterministic recursive XY-cut.

    ``boxes`` are (x1, y1, x2, y2). Returns, in reading order, a list of
    ``(original_index, region_x0)`` where ``region_x0`` is the min x1 of the
    innermost vertical-cut region containing the span (the column left edge,
    consumed by the paragraph-boundary rule).

    X-cuts are attempted first (column gutters always win over horizontal
    gaps shared by both columns); Y-cuts split only at the *topmost* gap
    (strip the top band, recurse) so a full-width banner above a 2-column
    body is peeled off before the gutter is considered — otherwise a
    horizontal gap shared by both columns would interleave them. Leaves sort
    by (y1, x1, idx). Total and deterministic: ties broken by original index
    (SURVEY.md §7.3).
    """
    order: list[tuple[int, int]] = []
    if not boxes:
        return order
    x1s = [b[0] for b in boxes]
    y1s = [b[1] for b in boxes]
    x2s = [b[2] for b in boxes]
    y2s = [b[3] for b in boxes]

    def leaf(idxs: list[int], x0: int) -> None:
        idxs.sort(key=lambda i: (y1s[i], x1s[i], i))
        order.extend((i, x0) for i in idxs)

    def xgroups(idxs: list[int]) -> list[list[int]] | None:
        xo = sorted(idxs, key=lambda i: x1s[i])
        groups = _groups_1d(xo, x1s, x2s, C.XY_MIN_GAP_X)
        return groups if len(groups) > 1 else None

    def band_standalone(band: list[int], x0: int) -> None:
        """One y-band (no internal y-gap): x-split if possible, else leaf."""
        if len(band) == 1:
            order.append((band[0], x0))
            return
        bg = xgroups(band)
        if bg:
            for grp in bg:
                recurse(grp, min(x1s[i] for i in grp))
        else:
            leaf(band, x0)

    def recurse(idxs: list[int], region_x0: int) -> None:
        if len(idxs) == 1:
            order.append((idxs[0], region_x0))
            return
        g = xgroups(idxs)
        if g:
            for grp in g:
                recurse(grp, min(x1s[i] for i in grp))
            return
        yo = sorted(idxs, key=lambda i: y1s[i])
        bands = _groups_1d(yo, y1s, y2s, C.XY_MIN_GAP_Y)
        if len(bands) == 1:
            leaf(bands[0], region_x0)
            return
        # Peel bands top-down; after each band, if the *remaining suffix*
        # opens a vertical gap (e.g. a full-width banner peeled off a
        # 2-column body), restart on the suffix so the gutter X-cut wins.
        # The suffix gap check reuses one x-sorted pass (no re-sorts).
        xo = sorted(idxs, key=lambda i: x1s[i])
        band_of = {i: bi for bi, band in enumerate(bands) for i in band}
        for bi in range(len(bands) - 1):
            band_standalone(bands[bi], region_x0)
            lo = bi + 1
            cur_hi = None
            has_gap = False
            for i in xo:
                if band_of[i] < lo:
                    continue
                if cur_hi is not None and x1s[i] - cur_hi >= C.XY_MIN_GAP_X:
                    has_gap = True
                    break
                cur_hi = x2s[i] if cur_hi is None or x2s[i] > cur_hi else cur_hi
            if has_gap:
                rest = [i for i in xo if band_of[i] >= lo]
                recurse(rest, region_x0)
                return
        band_standalone(bands[-1], region_x0)

    recurse(list(range(len(boxes))), min(x1s))
    return order


# ---------------------------------------------------------------------------
# M2 surrogate: paragraph-boundary rule
# ---------------------------------------------------------------------------


def is_new_line(
    y1: int, x1: int, region_x0: int, prev_y1: int | None, prev_page: int | None, page: int
) -> bool:
    """True iff the span starts a new paragraph/record.

    prev_* refer to the previous *text* span in document reading order (may be
    on the previous page — cross-page continuation is a reference behavior:
    ``parsed_json[-1]["text"] += ...`` at predict/pdf2markdown.py:575).
    """
    if prev_y1 is None:
        return True
    dy = y1 - prev_y1 if page == prev_page else -1
    if dy > C.NEWLINE_DY:
        return True
    if dy <= 0 and (x1 - region_x0) > C.NEWLINE_DX:
        return True
    return False


# ---------------------------------------------------------------------------
# end-to-end per-document extraction (the oracle / mapInArrow fallback)
# ---------------------------------------------------------------------------


@dataclass
class Span:
    """One input span after offset decode."""

    kind: str
    text: str
    media_ref: str
    page: int
    y1: int
    x1: int
    idx: int  # original position within the document's spans array

    @classmethod
    def from_raw(cls, kind: str, text: str, media_ref: str, offset: int, idx: int) -> "Span":
        page, y1, x1 = unpack_offset(offset or 0)  # null geometry ≡ origin
        return cls(kind or "", text or "", media_ref or "", page, y1, x1, idx)


@dataclass
class ExtractState:
    """Cross-page fold state (mirrors mdstring / parsed_json accumulation in
    predict/pdf2markdown.py:356-359). Split out so the salted page-sharded
    path can merge partial results (pipeline._extract_page_partial /
    pipeline._stitch_doc)."""

    records: list[tuple[str, str, str]] = field(default_factory=list)  # kind,text,media_ref
    markdown: list[str] = field(default_factory=list)
    table_caps: list[tuple[str, str]] = field(default_factory=list)   # (caption, media_ref)
    figure_caps: list[tuple[str, str]] = field(default_factory=list)
    prev_y1: int | None = None
    prev_page: int | None = None
    prev_kind: str | None = None


def prepare_page(spans: list[Span]) -> tuple[list[tuple[Span, int]], list[Span]]:
    """Page-local half of extract_page: classification (M1) + reading order
    (M3). Pure function of the page's spans — no cross-page state — so the
    salted pipeline runs it in parallel per (doc, page) and feeds the results
    to the sequential ``fold_page`` (which needs the running state).

    Returns (ordered [(classified text span, region_x0)], media in *input*
    order — prepare_input /root/reference/predict/pdf2markdown.py:255-267).
    """
    text_spans: list[Span] = []
    media: list[Span] = []
    for s in spans:
        kind = s.kind
        text = s.text
        if kind in ("figure", "table"):
            media.append(s)
            continue
        if kind == "equation":
            text = C.EQUATION_TEXT
        elif kind == C.UNLABELED:
            kind = classify_kind(text, s.page, s.y1)
            if kind == "equation":
                text = C.EQUATION_TEXT
        if kind == C.IRRELEVANT:
            continue  # segment_type 0 never enters `annotate` (:380-510)
        text_spans.append(Span(kind, text, s.media_ref, s.page, s.y1, s.x1, s.idx))

    # reading order (M3 surrogate; replaces annotate.sort(key=order, reverse=True) :514)
    boxes = [derive_box(s.kind, s.text, s.x1, s.y1) for s in text_spans]
    ordered = [(text_spans[i], x0) for i, x0 in xy_cut(boxes)]
    return ordered, media


def fold_page(
    state: ExtractState, page: int,
    ordered: list[tuple[Span, int]], media: list[Span],
) -> None:
    """Stateful half of extract_page: the per-span fold, caption grouping and
    caption↔media matching. Consumes ``prepare_page`` output; kind
    inheritance across page boundaries (including a page opening as the
    continuation of a caption/equation) follows from ``state.prev_kind``
    with no approximation."""
    # per-page caption accumulators (:515-518); groups flush in reading order
    tab_groups: list[list[str]] = []
    fig_groups: list[list[str]] = []

    for s, region_x0 in ordered:
        new_line = is_new_line(s.y1, s.x1, region_x0, state.prev_y1, state.prev_page, page)
        kind = s.kind
        # continuation inheritance: a continuation line belongs to the open
        # paragraph; the learned head classifies it with the paragraph's kind.
        if not new_line and state.prev_kind is not None:
            kind = state.prev_kind
        state.prev_y1, state.prev_page, state.prev_kind = s.y1, s.page, kind

        if kind == "equation":
            # markdown only; never appended to parsed_json (:653-654)
            state.markdown.append(f"![]({s.text}){C.SEP_MEDIA}")
            state.prev_kind = "equation"
            continue
        if kind == "table_caption":
            _caption_accumulate(tab_groups, s.text, new_line)
            continue
        if kind == "figure_caption":
            _caption_accumulate(fig_groups, s.text, new_line)
            continue
        # body kinds (:549-651)
        if new_line:
            state.records.append((kind, s.text, ""))
            sep = C.SEP_TITLE if kind == "title" else C.SEP_PARA
            state.markdown.append(sep + s.text)
        else:
            state.markdown.append(s.text)
            if state.records:
                k, t, m = state.records[-1]
                state.records[-1] = (k, t + s.text, m)
            else:
                state.records.append((kind, s.text, ""))

    # caption <-> media positional match (greedy by caption index, :64-150)
    tables = [m for m in media if m.kind == "table"]
    figures = [m for m in media if m.kind == "figure"]
    tab_matched = _positional_match(tables, tab_groups)
    fig_matched = _positional_match(figures, fig_groups)

    # page media emission (:664-670): tables caption-first, figures image-first
    state.markdown.append(C.PAGE_SEP)
    for cap, ref in tab_matched:
        state.markdown.append(f"{cap}{C.SEP_MEDIA}![]({ref}){C.SEP_MEDIA}")
    for cap, ref in fig_matched:
        state.markdown.append(f"![]({ref}){C.SEP_MEDIA}{cap}{C.SEP_MEDIA}")
    state.table_caps.extend(tab_matched)
    state.figure_caps.extend(fig_matched)


def extract_page(state: ExtractState, page: int, spans: list[Span]) -> None:
    """Process one page's spans (input order) into the fold state.

    Mirrors one iteration of the page loop predict/pdf2markdown.py:360-672.
    """
    ordered, media = prepare_page(spans)
    fold_page(state, page, ordered, media)


def _caption_accumulate(groups: list[list[str]], text: str, new_line: bool) -> None:
    # predict/pdf2markdown.py:519-546: True opens a group (flushing the
    # previous one); False appends to the current group, opening one if none.
    if new_line or not groups:
        groups.append([text])
    else:
        groups[-1].append(text)


def _positional_match(media: list[Span], groups: list[list[str]]) -> list[tuple[str, str]]:
    """(caption_text, media_ref) per media span, in input order.

    Faithful reproduction of match_captions_to_images_tables
    (predict/pdf2markdown.py:64-150): media i pairs with caption group i
    (greedy by *index* — the computed distances are discarded); media beyond
    the group count get the sentinel; surplus caption groups are dropped.
    """
    out = []
    for i, m in enumerate(media):
        cap = "".join(groups[i]) if i < len(groups) else C.UNMATCHED_CAPTION
        out.append((cap, m.media_ref))
    return out


def finish_document(state: ExtractState) -> tuple[list[tuple[str, str, str, int]], str]:
    """Doc-end caption records (:675-680) + final (spans, markdown)."""
    records = list(state.records)
    for cap, ref in state.table_caps:
        records.append(("table_caption", cap, ref))
    for cap, ref in state.figure_caps:
        records.append(("figure_caption", cap, ref))
    out = [(k, t, m, i) for i, (k, t, m) in enumerate(records)]
    return out, "".join(state.markdown)


def extract_document(
    spans: list[tuple[str, str, str, int]],
) -> tuple[list[tuple[str, str, str, int]], str]:
    """Full per-document extraction.

    ``spans``: input array of (kind, text, media_ref, offset) in table order.
    Returns (output spans [(kind, text, media_ref, order)], markdown).
    """
    decoded = [Span.from_raw(k, t, m, o, i) for i, (k, t, m, o) in enumerate(spans)]
    by_page: dict[int, list[Span]] = {}
    for s in decoded:
        by_page.setdefault(s.page, []).append(s)
    state = ExtractState()
    for page in sorted(by_page):
        extract_page(state, page, by_page[page])
    return finish_document(state)
