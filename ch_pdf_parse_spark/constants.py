"""Shared constants for the PySpark-native CH-PDF-Parse rebuild.

These constants are shared between:
  * the pure-Python semantic kernel / golden oracle (``core.py``),
  * the deterministic fixture generator (``fixtures.py``),
  * the Spark relational operators (``operators/``).

Geometry lives in the reference's 1024-normalized page space
(`/root/reference/predict/pdf2markdown.py:240-248` scales every bbox by
``1024/max(w,h) - 1e-5``); we synthesize directly in that space.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# offset packing (FIXTURES.md §1): offset = page*10^7 + y1*10^4 + x1
# y1 is constrained to [0, 999] and x1 to [0, 9999] so the packing is lossless.
# ---------------------------------------------------------------------------
OFFSET_PAGE = 10_000_000
OFFSET_Y = 10_000

# page geometry (1024-normalized space, y usable range [0, 999])
LINE_H = 12          # rendered text-line height
LINE_PITCH = 14      # y1 delta between consecutive lines of one paragraph
BLOCK_GAP = 26       # y1 delta between the last line of a block and the next block
COL1_X = 62          # left margin / single-column left edge
COL2_X = 530         # right column left edge (2-column layout)
COL1_W = 900         # single-column text width budget
COL2_W = 430         # per-column width budget in 2-column layout
INDENT = 24          # paragraph first-line indent
CHAR_W = 6           # deterministic per-character width used by derive_box

# XY-cut thresholds (core.xy_cut). Line pitch leaves a 2px vertical gap
# (LINE_PITCH - LINE_H); block gaps leave 14px (BLOCK_GAP - LINE_H).
XY_MIN_GAP_X = 10
XY_MIN_GAP_Y = 6

# paragraph-boundary (M2/PBI surrogate) thresholds:
# new paragraph iff dy > NEWLINE_DY  or  (dy <= 0 and x_rel > NEWLINE_DX)
# where dy = y1 - prev_y1 in document reading order and x_rel = x1 - column x0.
NEWLINE_DY = 20
NEWLINE_DX = 5

# classification (M1/TFI surrogate) geometric thresholds
HEADER_Y_MAX = 25    # running header band
TITLE_Y_MAX = 60     # title band on page 0

# ---------------------------------------------------------------------------
# kind vocabularies (reference `structure_function` values, decode ladder at
# /root/reference/predict/pdf2markdown.py:380-510; model codes 0-9 at
# /root/reference/train/preprocess.py:190-560)
# ---------------------------------------------------------------------------
TEXT_KINDS = (
    "header", "title", "author", "institution", "abstract", "keyword",
    "text", "figure_caption", "table_caption", "reference",
)
MEDIA_KINDS = ("figure", "table", "equation")
# NB: there is deliberately NO body-kind whitelist — body is the DEFAULT
# branch of the fold (any kind that isn't a caption or equation, including
# unknown/empty kinds, core.extract_page fall-through); filters must use the
# complement of CAPTION_KINDS + "equation".
CAPTION_KINDS = ("figure_caption", "table_caption")
UNLABELED = "unlabeled"
IRRELEVANT = "header"   # segment_type 0: never emitted (ladder covers only 1-9)

# equation pseudo-text; the `.split("###_")[-1]` at
# /root/reference/predict/pdf2markdown.py:382 is a faithful no-op.
EQUATION_TEXT = "###equation"

# ---------------------------------------------------------------------------
# output formatting (exact separator strings from the reference fold,
# /root/reference/predict/pdf2markdown.py:549-683)
# ---------------------------------------------------------------------------
SEP_TITLE = "   \n\n # "    # :552
SEP_PARA = "   \n\n"        # :568 (and per-kind clones)
SEP_MEDIA = "  \n\n"        # :654,666-670
PAGE_SEP = "\n\n"           # :664
UNMATCHED_CAPTION = "未找到题注"  # :76,80

# citation span regex (M4/CE surrogate; the reference computes token_type and
# never consumes it, /root/reference/predict/pdf2markdown.py:364 — exposed here
# as an optional derived column, excluded from the equality invariant)
# whitespace spelled explicitly, NOT \s: Java regex \s includes \x0B
# (vertical tab) while DuckDB's RE2 \s does not — a marker containing \x0B
# would extract on Spark and not on the oracle (code-review find, r2)
CITATION_REGEX = "\\[[0-9][0-9,\\- \\t\\n\\f\\r]*\\]"

# skew handling: documents with more spans than this are salted page-wise
# (north_rule; replaces the reference's drop-pages->4200-tokens guard at
# /root/reference/train/preprocess.py:568-571). Threshold rationale —
# MEASURED, r2: a single-monster experiment (zero-shuffle straggler vs the
# salted explode + 2 shuffles, local[32]) shows the salted path LOSES until
# well past 2M spans (unsalted/salted wall: 0.59x @200k, 0.75x @800k,
# 0.84x @2M — the per-span shuffle+applyInPandas cost exceeds the kernel's
# ~6s/M-span straggler, and a network shuffle on a real cluster only makes
# the salted side worse). The binding constraint below ~1M spans is not
# wall time but per-task MEMORY: one doc's spans must fit a single Arrow
# batch + kernel arrays (~100 B/span -> ~50 MB at 500k), so the threshold
# sits where memory says, not where the old 250ms-straggler argument did.
SALT_SPAN_THRESHOLD = 500_000
