#define _GNU_SOURCE  /* memmem */
#include <stdio.h>
#include <stdlib.h>
#include <string.h>

/* Mirrors ch_pdf_parse_spark.core.xy_cut exactly (see that docstring).
   All index arrays hold page-local span indices; sorts are STABLE. */

typedef struct {
    const long long *x1, *y1, *x2, *y2;
    long long gx, gy;          /* XY_MIN_GAP_X / _Y */
    int *band_of;
    int *out_idx;
    long long *out_x0;
    int out_n;
    int n;
    int *scratch;              /* merge buffer, size n */
    long long *keybuf;         /* composite keys, size n */
} Ctx;

/* stable merge sort of idx[] by key[idx] ascending (ties keep order) */
static void msort(int *a, int *tmp, int lo, int hi, const long long *key) {
    if (hi - lo < 2) return;
    int mid = (lo + hi) / 2;
    msort(a, tmp, lo, mid, key);
    msort(a, tmp, mid, hi, key);
    if (key[a[mid - 1]] <= key[a[mid]]) return;
    int i = lo, j = mid, k = lo;
    while (i < mid && j < hi)
        tmp[k++] = (key[a[j]] < key[a[i]]) ? a[j++] : a[i++];
    while (i < mid) tmp[k++] = a[i++];
    while (j < hi) tmp[k++] = a[j++];
    memcpy(a + lo, tmp + lo, (size_t)(hi - lo) * sizeof(int));
}

/* stable sort by an arbitrary value array (x1 or y1) */
static void sort_by(Ctx *c, int *idxs, int n, const long long *vals) {
    msort(idxs, c->scratch, 0, n, vals);
}

/* groups over a sorted run: starts[g]..starts[g+1] slices of sorted_idx.
   identical to core._groups_1d */
static int groups_1d(const int *sorted_idx, int n, const long long *lo,
                     const long long *hi, long long min_gap, int *starts) {
    int ng = 0;
    starts[0] = 0;
    long long cur_hi = hi[sorted_idx[0]];
    for (int k = 1; k < n; k++) {
        int i = sorted_idx[k];
        if (lo[i] - cur_hi >= min_gap) {
            starts[++ng] = k;
            cur_hi = hi[i];
        } else {
            long long h = hi[i];
            if (h > cur_hi) cur_hi = h;
        }
    }
    starts[++ng] = n;
    return ng;
}

static void emit(Ctx *c, int idx, long long x0) {
    c->out_idx[c->out_n] = idx;
    c->out_x0[c->out_n] = x0;
    c->out_n++;
}

/* leaf: sort by composite (y1*KY + x1*KX + i) and emit */
#define KI (1LL << 24)
#define KX KI
#define KY (KI * 10000LL)

static void leaf(Ctx *c, int *idxs, int n, long long x0) {
    for (int k = 0; k < n; k++) {
        int i = idxs[k];
        c->keybuf[i] = c->y1[i] * KY + c->x1[i] * KX + i;
    }
    msort(idxs, c->scratch, 0, n, c->keybuf);
    for (int k = 0; k < n; k++) emit(c, idxs[k], x0);
}

static long long min_x1(Ctx *c, const int *idxs, int n) {
    long long m = c->x1[idxs[0]];
    for (int k = 1; k < n; k++)
        if (c->x1[idxs[k]] < m) m = c->x1[idxs[k]];
    return m;
}

static void recurse(Ctx *c, int *idxs, int n, long long region_x0);

/* xgroups: sorted-by-x copy + gap grouping; returns n_groups (sorted copy
   and starts written into caller-provided buffers) */
static int xgroups(Ctx *c, const int *idxs, int n, int *xo, int *starts) {
    memcpy(xo, idxs, (size_t)n * sizeof(int));
    sort_by(c, xo, n, c->x1);
    return groups_1d(xo, n, c->x1, c->x2, c->gx, starts);
}

static void band_standalone(Ctx *c, int *band, int n, long long x0) {
    if (n == 1) { emit(c, band[0], x0); return; }
    int *xo = malloc((size_t)n * sizeof(int));
    int *starts = malloc((size_t)(n + 1) * sizeof(int));
    int ng = xgroups(c, band, n, xo, starts);
    if (ng > 1) {
        for (int g = 0; g < ng; g++) {
            int gn = starts[g + 1] - starts[g];
            recurse(c, xo + starts[g], gn,
                    min_x1(c, xo + starts[g], gn));
        }
    } else {
        leaf(c, band, n, x0);
    }
    free(xo); free(starts);
}

static void recurse(Ctx *c, int *idxs, int n, long long region_x0) {
    if (n == 1) { emit(c, idxs[0], region_x0); return; }
    int *xo = malloc((size_t)n * sizeof(int));
    int *starts = malloc((size_t)(n + 1) * sizeof(int));
    int ng = xgroups(c, idxs, n, xo, starts);
    if (ng > 1) {
        for (int g = 0; g < ng; g++) {
            int gn = starts[g + 1] - starts[g];
            recurse(c, xo + starts[g], gn,
                    min_x1(c, xo + starts[g], gn));
        }
        free(xo); free(starts);
        return;
    }
    /* y bands over y-sorted order */
    int *yo = malloc((size_t)n * sizeof(int));
    int *bstarts = malloc((size_t)(n + 1) * sizeof(int));
    memcpy(yo, idxs, (size_t)n * sizeof(int));
    sort_by(c, yo, n, c->y1);
    int nb = groups_1d(yo, n, c->y1, c->y2, c->gy, bstarts);
    if (nb == 1) {
        leaf(c, idxs, n, region_x0);
        free(xo); free(starts); free(yo); free(bstarts);
        return;
    }
    /* xo currently holds the x-sorted order (from xgroups above) */
    for (int b = 0; b < nb; b++)
        for (int k = bstarts[b]; k < bstarts[b + 1]; k++)
            c->band_of[yo[k]] = b;
    /* decide split point BEFORE nested recursion: band_standalone's own
       recursion reassigns band_of */
    int n_standalone = nb;
    int *split_rest = NULL;
    int split_n = 0;
    for (int b = 0; b < nb - 1; b++) {
        int lo = b + 1;
        long long cur_hi = 0;
        int have = 0, has_gap = 0;
        for (int k = 0; k < n; k++) {
            int i = xo[k];
            if (c->band_of[i] < lo) continue;
            if (have && c->x1[i] - cur_hi >= c->gx) { has_gap = 1; break; }
            long long v = c->x2[i];
            if (!have || v > cur_hi) { cur_hi = v; have = 1; }
        }
        if (has_gap) {
            split_rest = malloc((size_t)n * sizeof(int));
            for (int k = 0; k < n; k++)
                if (c->band_of[xo[k]] >= lo)
                    split_rest[split_n++] = xo[k];
            n_standalone = lo;
            break;
        }
    }
    for (int b = 0; b < n_standalone; b++)
        band_standalone(c, yo + bstarts[b], bstarts[b + 1] - bstarts[b],
                        region_x0);
    if (split_rest) {
        recurse(c, split_rest, split_n, region_x0);
        free(split_rest);
    }
    free(xo); free(starts); free(yo); free(bstarts);
}

/* internal core: idx/x0 output arrays supplied by the caller */
static int xy_cut_core(const long long *x1, const long long *y1,
                       const long long *x2, const long long *y2, int n,
                       long long gx, long long gy,
                       int *out_idx, long long *out_x0) {
    if (n <= 0) return 0;
    Ctx c;
    c.x1 = x1; c.y1 = y1; c.x2 = x2; c.y2 = y2;
    c.gx = gx; c.gy = gy;
    c.out_idx = out_idx; c.out_x0 = out_x0; c.out_n = 0;
    c.n = n;
    c.band_of = calloc((size_t)n, sizeof(int));
    c.scratch = malloc((size_t)n * sizeof(int));
    c.keybuf = malloc((size_t)n * sizeof(long long));
    int *root = malloc((size_t)n * sizeof(int));
    if (!c.band_of || !c.scratch || !c.keybuf || !root) {
        free(c.band_of); free(c.scratch); free(c.keybuf); free(root);
        return -1;
    }
    long long x0 = x1[0];
    for (int i = 0; i < n; i++) {
        root[i] = i;
        if (x1[i] < x0) x0 = x1[i];
    }
    recurse(&c, root, n, x0);
    free(c.band_of); free(c.scratch); free(c.keybuf); free(root);
    return c.out_n;
}

/* in: one C-contiguous (4, n) int64 buffer — rows x1, y1, x2, y2;
   out: one (2, n) int64 buffer — row 0 emitted idx, row 1 region_x0
   (single-buffer marshaling keeps the ctypes call overhead at one
   pointer cast per side instead of six) */
int xy_cut(const long long *in4, int n, long long gx, long long gy,
           long long *out2) {
    if (n <= 0) return 0;
    int *out_idx = malloc((size_t)n * sizeof(int));
    if (!out_idx) return -1;
    int got = xy_cut_core(in4, in4 + n, in4 + 2 * n, in4 + 3 * n, n,
                          gx, gy, out_idx, out2 + n);
    if (got >= 0)
        for (int k = 0; k < got; k++) out2[k] = out_idx[k];
    free(out_idx);
    return got;
}

/* ------------------------------------------------------------------ */
/* Wire-format shard parser — C twin of                               */
/* sources.wireformat._parse_shard_columnar (same framing, CRC,       */
/* structure, strict-UTF-8 and resync semantics; differential-fuzzed  */
/* in tests/test_wire_native.py).                                     */

#include <stdint.h>

static uint32_t crc_tab[8][256];
static int crc_init_done = 0;

static void crc_init(void) {
    for (uint32_t i = 0; i < 256; i++) {
        uint32_t c = i;
        for (int k = 0; k < 8; k++)
            c = (c & 1) ? 0xEDB88320u ^ (c >> 1) : c >> 1;
        crc_tab[0][i] = c;
    }
    for (uint32_t i = 0; i < 256; i++)
        for (int t = 1; t < 8; t++)
            crc_tab[t][i] = crc_tab[0][crc_tab[t - 1][i] & 0xFF]
                            ^ (crc_tab[t - 1][i] >> 8);
    crc_init_done = 1;
}

static uint32_t crc32_z(const unsigned char *p, long long n) {
    uint32_t c = 0xFFFFFFFFu;
    while (n >= 8) {
        uint32_t lo, hi;
        memcpy(&lo, p, 4); memcpy(&hi, p + 4, 4);
        lo ^= c;
        c = crc_tab[7][lo & 0xFF] ^ crc_tab[6][(lo >> 8) & 0xFF]
          ^ crc_tab[5][(lo >> 16) & 0xFF] ^ crc_tab[4][lo >> 24]
          ^ crc_tab[3][hi & 0xFF] ^ crc_tab[2][(hi >> 8) & 0xFF]
          ^ crc_tab[1][(hi >> 16) & 0xFF] ^ crc_tab[0][hi >> 24];
        p += 8; n -= 8;
    }
    while (n-- > 0)
        c = crc_tab[0][(c ^ *p++) & 0xFF] ^ (c >> 8);
    return c ^ 0xFFFFFFFFu;
}

/* strict UTF-8 (CPython semantics: overlongs, surrogates, >U+10FFFF all
   invalid) */
static int valid_utf8(const unsigned char *s, long long n) {
    long long i = 0;
    while (i < n) {
        unsigned char c = s[i];
        if (c < 0x80) { i++; continue; }
        if (c < 0xC2) return 0;
        if (c < 0xE0) {
            if (i + 2 > n || (s[i+1] & 0xC0) != 0x80) return 0;
            i += 2; continue;
        }
        if (c < 0xF0) {
            if (i + 3 > n) return 0;
            unsigned char c1 = s[i+1], c2 = s[i+2];
            if ((c1 & 0xC0) != 0x80 || (c2 & 0xC0) != 0x80) return 0;
            if (c == 0xE0 && c1 < 0xA0) return 0;
            if (c == 0xED && c1 >= 0xA0) return 0;
            i += 3; continue;
        }
        if (c < 0xF5) {
            if (i + 4 > n) return 0;
            unsigned char c1 = s[i+1], c2 = s[i+2], c3 = s[i+3];
            if ((c1 & 0xC0) != 0x80 || (c2 & 0xC0) != 0x80
                || (c3 & 0xC0) != 0x80) return 0;
            if (c == 0xF0 && c1 < 0x90) return 0;
            if (c == 0xF4 && c1 >= 0x90) return 0;
            i += 4; continue;
        }
        return 0;
    }
    return 1;
}

typedef struct {
    unsigned char *vals; long long vlen, vcap;
    int *offs;           /* count+1 entries once finalized */
    unsigned char *valid;
    long long count, cap;
} StrCol;

static int col_reserve(StrCol *c, long long add_rows, long long add_bytes) {
    if (c->count + add_rows + 1 > c->cap) {
        long long nc = c->cap ? c->cap * 2 : 1024;
        while (nc < c->count + add_rows + 1) nc *= 2;
        /* keep whichever realloc succeeded: the owner frees both */
        int *no = realloc(c->offs, (size_t)(nc + 1) * sizeof(int));
        if (no) c->offs = no;
        unsigned char *nv = realloc(c->valid, (size_t)nc);
        if (nv) c->valid = nv;
        if (!no || !nv) return 0;
        c->cap = nc;
    }
    if (c->vlen + add_bytes > c->vcap) {
        long long nc = c->vcap ? c->vcap * 2 : 4096;
        while (nc < c->vlen + add_bytes) nc *= 2;
        unsigned char *nv = realloc(c->vals, (size_t)nc);
        if (!nv) return 0;
        c->vals = nv; c->vcap = nc;
    }
    return 1;
}

static int col_push(StrCol *c, const unsigned char *s, long long n,
                    int is_null) {
    if (!col_reserve(c, 1, is_null ? 0 : n)) return 0;
    if (c->count == 0) c->offs[0] = 0;
    if (is_null) {
        c->offs[c->count + 1] = (int)c->vlen;
        c->valid[c->count] = 0;
    } else {
        if (n) memcpy(c->vals + c->vlen, s, (size_t)n);
        c->vlen += n;
        c->offs[c->count + 1] = (int)c->vlen;
        c->valid[c->count] = 1;
    }
    c->count++;
    return 1;
}

typedef struct {
    StrCol docid;
    int *counts; long long counts_cap;       /* -1 == NULL spans */
    StrCol kind, text, media;
    int *offv; unsigned char *offvalid; long long off_cap;
    long long n_spans;
    int corrupt;
    int oom;
} Parse;

static int push_offset(Parse *p, int v, int is_null) {
    if (p->n_spans + 1 > p->off_cap) {
        long long nc = p->off_cap ? p->off_cap * 2 : 1024;
        int *nv = realloc(p->offv, (size_t)nc * sizeof(int));
        unsigned char *nb = realloc(p->offvalid, (size_t)nc);
        if (!nv || !nb) { if (nv) p->offv = nv; if (nb) p->offvalid = nb;
                          return 0; }
        p->offv = nv; p->offvalid = nb; p->off_cap = nc;
    }
    p->offv[p->n_spans] = v;
    p->offvalid[p->n_spans] = is_null ? 0 : 1;
    p->n_spans++;
    return 1;
}

static int push_count(Parse *p, int v) {
    if (p->docid.count + 1 > p->counts_cap) {   /* counts parallel docid */
        long long nc = p->counts_cap ? p->counts_cap * 2 : 1024;
        int *nv = realloc(p->counts, (size_t)nc * sizeof(int));
        if (!nv) return 0;
        p->counts = nv; p->counts_cap = nc;
    }
    p->counts[p->docid.count] = v;
    return 1;
}

static uint32_t rd_u32(const unsigned char *d) {
    uint32_t v; memcpy(&v, d, 4); return v;   /* x86: little-endian */
}

#define NULL32 0xFFFFFFFFu

void free_parse(Parse *p) {
    if (!p) return;
    free(p->docid.vals); free(p->docid.offs); free(p->docid.valid);
    free(p->kind.vals); free(p->kind.offs); free(p->kind.valid);
    free(p->text.vals); free(p->text.offs); free(p->text.valid);
    free(p->media.vals); free(p->media.offs); free(p->media.valid);
    free(p->counts); free(p->offv); free(p->offvalid);
    free(p);
}

Parse *parse_shard_c(const unsigned char *data, long long end) {
    if (!crc_init_done) crc_init();
    Parse *p = calloc(1, sizeof(Parse));
    if (!p) return NULL;
    static const unsigned char MAGIC[4] = {'C', 'P', 'W', '1'};
    static const unsigned char FOOT[4] = {'C', 'P', 'W', 'E'};
    static const unsigned char SYNC[4] = {0xc5, 0xd2, 0x0c, 0x77};
    if (end < 4 || memcmp(data, MAGIC, 4) != 0) {
        p->corrupt = 1;
        return p;
    }
    long long i = 4;
    while (i < end) {
        int head_full = (i + 4 <= end);
        if (head_full && memcmp(data + i, FOOT, 4) == 0) {
            if (p->corrupt == 0 && (end - i < 8
                    || rd_u32(data + i + 4) != (uint32_t)p->docid.count))
                p->corrupt += 1;
            return p;
        }
        long long mark_spans = p->n_spans;
        long long mk = p->kind.count, mkv = p->kind.vlen;
        long long mt = p->text.count, mtv = p->text.vlen;
        long long mm = p->media.count, mmv = p->media.vlen;
        int head_sync = head_full && memcmp(data + i, SYNC, 4) == 0;
        if (head_sync && end - i >= 8) {
            uint32_t plen = rd_u32(data + i + 4);
            long long p0 = i + 8;
            long long pend = p0 + (long long)plen;
            long long pos = p0;
            uint32_t n;
            int fail = 0;
            const unsigned char *ds;
            if (pend + 4 > end) { fail = 1; goto decide; }
            if (rd_u32(data + pend) != crc32_z(data + p0, pend - p0)) {
                fail = 1; goto decide;
            }
            /* doc_id */
            if (pos + 4 > pend) { fail = 1; goto decide; }
            n = rd_u32(data + pos); pos += 4;
            {
                long long did_start = -1, did_len = 0;
                int did_null = (n == NULL32);
                if (!did_null) {
                    if (pos + (long long)n > pend) { fail = 1; goto decide; }
                    if (!valid_utf8(data + pos, n)) { fail = 1; goto decide; }
                    did_start = pos; did_len = n; pos += n;
                }
                /* spans */
                if (pos + 4 > pend) { fail = 1; goto decide; }
                uint32_t n_spans = rd_u32(data + pos); pos += 4;
                int cnt;
                if (n_spans == NULL32) {
                    cnt = -1;
                } else {
                    if (n_spans > plen) { fail = 1; goto decide; }
                    for (uint32_t s = 0; s < n_spans; s++) {
                        /* kind, text, media_ref */
                        StrCol *cols[3] = {&p->kind, &p->text, &p->media};
                        for (int f = 0; f < 3; f++) {
                            if (pos + 4 > pend) { fail = 1; goto decide; }
                            n = rd_u32(data + pos); pos += 4;
                            if (n == NULL32) {
                                if (!col_push(cols[f], NULL, 0, 1)) {
                                    p->oom = 1; return p;
                                }
                            } else {
                                if (pos + (long long)n > pend) {
                                    fail = 1; goto decide;
                                }
                                ds = data + pos;
                                if (!valid_utf8(ds, n)) {
                                    fail = 1; goto decide;
                                }
                                if (!col_push(cols[f], ds, n, 0)) {
                                    p->oom = 1; return p;
                                }
                                pos += n;
                            }
                        }
                        /* offset: presence byte + i32 */
                        if (pos + 5 > pend) { fail = 1; goto decide; }
                        {
                            int32_t ov; memcpy(&ov, data + pos + 1, 4);
                            if (!push_offset(p, data[pos] ? ov : 0,
                                             data[pos] ? 0 : 1)) {
                                p->oom = 1; return p;
                            }
                        }
                        pos += 5;
                    }
                    cnt = (int)n_spans;
                }
                if (pos != pend) { fail = 1; goto decide; }
                /* accept */
                if (!push_count(p, cnt)
                    || !col_push(&p->docid,
                                 did_null ? NULL : data + did_start,
                                 did_len, did_null)) {
                    p->oom = 1; return p;
                }
                i = pend + 4;
                continue;
            }
decide:
            if (fail) {
                p->kind.count = mk; p->kind.vlen = mkv;
                p->text.count = mt; p->text.vlen = mtv;
                p->media.count = mm; p->media.vlen = mmv;
                p->n_spans = mark_spans;
            }
        }
        /* bad sync / corrupt record: count once, resync forward */
        p->corrupt += 1;
        {
            long long from = i + (head_sync ? 4 : 1);
            const unsigned char *hit = NULL;
            if (from < end)
                hit = memmem(data + from, (size_t)(end - from), SYNC, 4);
            if (!hit) return p;
            i = hit - data;
        }
    }
    p->corrupt += 1;   /* ran off the end without a footer */
    return p;
}


/* ------------------------------------------------------------------ */
/* Whole-batch extraction kernel — fast path of core.extract_document */
/* driven over the Arrow buffers directly (see that module's          */
/* docstrings for the reference semantics; differentially pinned in   */
/* tests/test_kernel.py / test_property / test_extract_native).       */

typedef struct {            /* one Arrow string column, zero-offset */
    const unsigned char *vals;
    const int *offs;
    const unsigned char *validity;   /* bitmap; NULL = all valid */
} AStr;

typedef struct {
    long long header_y, title_y, nl_dy, nl_dx, char_w, line_h;
    long long gx, gy, off_page, off_y;
    const unsigned char *eq; long long eq_len;
    const unsigned char *unlab; long long unlab_len;
    const unsigned char *irrel; long long irrel_len;
    const unsigned char *sep_title; long long sep_title_len;
    const unsigned char *sep_para; long long sep_para_len;
    const unsigned char *sep_media; long long sep_media_len;
    const unsigned char *page_sep; long long page_sep_len;
    const unsigned char *unmatched; long long unmatched_len;
    int want_records, want_markdown;
} ExCfg;

typedef struct {
    StrCol rkind, rtext, rmedia;   /* flat record columns */
    int *counts; long long counts_cap, n_docs;   /* records per doc */
    StrCol md;                     /* one markdown string per doc */
    int oom;
} ExOut;

static int bit_get(const unsigned char *bm, long long i) {
    return bm == NULL || ((bm[i >> 3] >> (i & 7)) & 1);
}

typedef struct { const unsigned char *p; long long n; } Bytes;

static Bytes astr_get(const AStr *c, long long i) {
    Bytes b;
    if (!bit_get(c->validity, i)) { b.p = c->vals; b.n = 0; return b; }
    b.p = c->vals + c->offs[i];
    b.n = (long long)c->offs[i + 1] - c->offs[i];
    return b;
}

static int beq(Bytes a, const unsigned char *s, long long n) {
    return a.n == n && memcmp(a.p, s, (size_t)n) == 0;
}

static long long cp_count(Bytes b) {   /* python len(): code points */
    long long c = 0;
    for (long long i = 0; i < b.n; i++)
        if ((b.p[i] & 0xC0) != 0x80) c++;
    return c;
}

static int ascii_digit(unsigned char c) { return c >= '0' && c <= '9'; }

/* kind constants emitted by classification */
static const unsigned char K_EQ[] = "equation";
static const unsigned char K_FIGCAP[] = "figure_caption";
static const unsigned char K_TABCAP[] = "table_caption";
static const unsigned char K_REF[] = "reference";
static const unsigned char K_ABS[] = "abstract";
static const unsigned char K_KW[] = "keyword";
static const unsigned char K_HDR[] = "header";
static const unsigned char K_TITLE[] = "title";
static const unsigned char K_TEXT[] = "text";
static const unsigned char U_ZH_FIG[] = {0xE5, 0x9B, 0xBE};       /* 图 */
static const unsigned char U_ZH_TAB[] = {0xE8, 0xA1, 0xA8};       /* 表 */
static const unsigned char U_ZH_ABS[] = {0xE6, 0x91, 0x98, 0xE8, 0xA6, 0x81};             /* 摘要 */
static const unsigned char U_ZH_KW[] = {0xE5, 0x85, 0xB3, 0xE9, 0x94, 0xAE, 0xE8, 0xAF, 0x8D}; /* 关键词 */

static Bytes BC(const unsigned char *s, long long n) {
    Bytes b; b.p = s; b.n = n; return b;
}

/* mirror of core.classify_kind over UTF-8 bytes */
static Bytes classify(const ExCfg *g, Bytes text, long long page,
                      long long y1) {
    if (beq(text, g->eq, g->eq_len)) return BC(K_EQ, 8);
    if (text.n >= 4 && memcmp(text.p, U_ZH_FIG, 3) == 0
        && ascii_digit(text.p[3]))
        return BC(K_FIGCAP, 14);
    if (text.n >= 4 && memcmp(text.p, U_ZH_TAB, 3) == 0
        && ascii_digit(text.p[3]))
        return BC(K_TABCAP, 13);
    if (text.n >= 1 && text.p[0] == '[') {
        long long i = 1;
        while (i < text.n && ascii_digit(text.p[i])) i++;
        if (i > 1 && i < text.n && text.p[i] == ']') return BC(K_REF, 9);
    }
    if (text.n >= 6 && memcmp(text.p, U_ZH_ABS, 6) == 0) return BC(K_ABS, 8);
    if (text.n >= 9 && memcmp(text.p, U_ZH_KW, 9) == 0) return BC(K_KW, 7);
    if (y1 < g->header_y) return BC(K_HDR, 6);
    if (page == 0 && y1 < g->title_y) return BC(K_TITLE, 5);
    return BC(K_TEXT, 4);
}

/* byte buffer with ranges (caption scratch etc.) */
typedef struct { unsigned char *p; long long len, cap; } Buf;

static int buf_add(Buf *b, const unsigned char *s, long long n) {
    if (b->len + n > b->cap) {
        long long nc = b->cap ? b->cap * 2 : 1024;
        while (nc < b->len + n) nc *= 2;
        unsigned char *np = realloc(b->p, (size_t)nc);
        if (!np) return 0;
        b->p = np; b->cap = nc;
    }
    if (n) memcpy(b->p + b->len, s, (size_t)n);
    b->len += n;
    return 1;
}

static int col_append_last(StrCol *c, const unsigned char *s, long long n) {
    if (!col_reserve(c, 0, n)) return 0;
    if (n) memcpy(c->vals + c->vlen, s, (size_t)n);
    c->vlen += n;
    c->offs[c->count] = (int)c->vlen;
    return 1;
}

static int push_count_ex(ExOut *o, int v) {
    if (o->n_docs + 1 > o->counts_cap) {
        long long nc = o->counts_cap ? o->counts_cap * 2 : 1024;
        int *nv = realloc(o->counts, (size_t)nc * sizeof(int));
        if (!nv) return 0;
        o->counts = nv; o->counts_cap = nc;
    }
    o->counts[o->n_docs++] = v;
    return 1;
}

#define OOMCHK(x) \
    do { if (!(x)) { o->oom = 1; rc = -1; goto done_page_alloc; } } while (0)

/* one document over [lo, hi) of the span child arrays */
static int extract_one(const ExCfg *g, const AStr *kinds, const AStr *texts,
                       const AStr *medias, const int *offv,
                       const unsigned char *offbm, long long lo, long long hi,
                       ExOut *o, Buf *mdbuf) {
    long long n = hi - lo;
    int rec_this_doc = 0;
    mdbuf->len = 0;
    /* caps accumulated across pages for the records-at-end */
    Buf capbuf = {0, 0, 0};
    long long *tcap_off = NULL, *fcap_off = NULL;   /* [2k]: start,end */
    Bytes *tcap_ref = NULL, *fcap_ref = NULL;
    long long n_tcap = 0, n_fcap = 0, cap_cap = 0;
    long long prev_y1 = 0, prev_page = 0;
    int have_prev = 0;
    Bytes prev_kind = {NULL, 0};
    int have_prev_kind = 0;
    int rc = 0;

    if (n > 0) {
        /* decode offsets -> page/y1/x1 (floor divmod, python semantics) */
        long long *pg = malloc((size_t)n * sizeof(long long));
        long long *y1a = malloc((size_t)n * sizeof(long long));
        long long *x1a = malloc((size_t)n * sizeof(long long));
        int *order = malloc((size_t)n * sizeof(int));
        int *tmp = malloc((size_t)n * sizeof(int));
        if (!pg || !y1a || !x1a || !order || !tmp) {
            free(pg); free(y1a); free(x1a); free(order); free(tmp);
            o->oom = 1; return -1;
        }
        for (long long i = 0; i < n; i++) {
            long long ov = bit_get(offbm, lo + i) ? (long long)offv[lo + i] : 0;
            long long page = ov / g->off_page;
            long long rem = ov - page * g->off_page;
            if (rem < 0) { page -= 1; rem += g->off_page; }
            pg[i] = page;
            y1a[i] = rem / g->off_y;
            x1a[i] = rem % g->off_y;
            order[i] = (int)i;
        }
        /* stable sort by page == insertion-ordered dict + sorted keys */
        msort(order, tmp, 0, (int)n, pg);
        free(tmp);

        /* per-page scratch (size <= n) */
        Bytes *t_kind = malloc((size_t)n * sizeof(Bytes));
        Bytes *t_text = malloc((size_t)n * sizeof(Bytes));
        long long *t_y1 = malloc((size_t)n * sizeof(long long));
        long long *t_x1 = malloc((size_t)n * sizeof(long long));
        long long *bx2 = malloc((size_t)n * sizeof(long long));
        long long *by2 = malloc((size_t)n * sizeof(long long));
        int *oidx = malloc((size_t)n * sizeof(int));
        long long *ox0 = malloc((size_t)n * sizeof(long long));
        long long *media_i = malloc((size_t)n * sizeof(long long));
        Buf tbuf = {0, 0, 0}, fbuf = {0, 0, 0};
        long long *tg = malloc((size_t)(n + 1) * 2 * sizeof(long long));
        long long *fg = malloc((size_t)(n + 1) * 2 * sizeof(long long));
        if (!t_kind || !t_text || !t_y1 || !t_x1 || !bx2 || !by2 || !oidx
            || !ox0 || !media_i || !tg || !fg) {
            rc = -1; o->oom = 1; goto done_page_alloc;
        }

        for (long long s = 0; s < n; ) {
            long long e = s;
            long long page = pg[order[s]];
            while (e < n && pg[order[e]] == page) e++;
            /* classification over input order (order[] is stable) */
            long long tn = 0, nm = 0;
            for (long long k = s; k < e; k++) {
                long long i = lo + order[k];
                Bytes kind = astr_get(kinds, i);
                if (beq(kind, (const unsigned char *)"figure", 6)
                    || beq(kind, (const unsigned char *)"table", 5)) {
                    media_i[nm++] = i;
                    continue;
                }
                Bytes text = astr_get(texts, i);
                long long y1 = y1a[order[k]];
                if (beq(kind, (const unsigned char *)"equation", 8)) {
                    text = BC(g->eq, g->eq_len);
                } else if (beq(kind, g->unlab, g->unlab_len)) {
                    kind = classify(g, text, page, y1);
                    if (kind.p == K_EQ) text = BC(g->eq, g->eq_len);
                }
                if (beq(kind, g->irrel, g->irrel_len)) continue;
                t_kind[tn] = kind;
                t_text[tn] = text;
                t_y1[tn] = y1;
                t_x1[tn] = x1a[order[k]];
                tn++;
            }
            /* boxes + xy-cut */
            for (long long k = 0; k < tn; k++) {
                long long ln = cp_count(t_text[k]);
                bx2[k] = t_x1[k] + g->char_w * (ln > 0 ? ln : 1);
                by2[k] = t_y1[k] + g->line_h;
            }
            long long n_tg = 0, n_fg = 0;
            if (tn > 0) {
                if (xy_cut_core(t_x1, t_y1, bx2, by2, (int)tn, g->gx, g->gy,
                                oidx, ox0) != (int)tn) {
                    rc = -1; o->oom = 1; goto done_page_alloc;
                }
            }
            /* fold */
            for (long long q = 0; q < tn; q++) {
                long long k = oidx[q];
                long long x0 = ox0[q];
                long long y1 = t_y1[k], x1 = t_x1[k];
                int new_line;
                if (!have_prev) new_line = 1;
                else {
                    long long dy = (page == prev_page) ? y1 - prev_y1 : -1;
                    new_line = (dy > g->nl_dy)
                        || (dy <= 0 && (x1 - x0) > g->nl_dx);
                }
                Bytes kind = t_kind[k];
                if (!new_line && have_prev_kind) kind = prev_kind;
                prev_y1 = y1; prev_page = page; have_prev = 1;
                prev_kind = kind; have_prev_kind = 1;
                Bytes text = t_text[k];
                if (beq(kind, (const unsigned char *)"equation", 8)) {
                    if (g->want_markdown) {
                        OOMCHK(buf_add(mdbuf, (const unsigned char *)"![](", 4)
                               && buf_add(mdbuf, text.p, text.n)
                               && buf_add(mdbuf, (const unsigned char *)")", 1)
                               && buf_add(mdbuf, g->sep_media,
                                          g->sep_media_len));
                    }
                    continue;
                }
                if (beq(kind, K_TABCAP, 13)) {
                    if (new_line || n_tg == 0) {
                        tg[n_tg * 2] = tbuf.len;
                        OOMCHK(buf_add(&tbuf, text.p, text.n));
                        tg[n_tg * 2 + 1] = tbuf.len;
                        n_tg++;
                    } else {
                        OOMCHK(buf_add(&tbuf, text.p, text.n));
                        tg[(n_tg - 1) * 2 + 1] = tbuf.len;
                    }
                    continue;
                }
                if (beq(kind, K_FIGCAP, 14)) {
                    if (new_line || n_fg == 0) {
                        fg[n_fg * 2] = fbuf.len;
                        OOMCHK(buf_add(&fbuf, text.p, text.n));
                        fg[n_fg * 2 + 1] = fbuf.len;
                        n_fg++;
                    } else {
                        OOMCHK(buf_add(&fbuf, text.p, text.n));
                        fg[(n_fg - 1) * 2 + 1] = fbuf.len;
                    }
                    continue;
                }
                if (new_line) {
                    if (g->want_records) {
                        OOMCHK(col_push(&o->rkind, kind.p, kind.n, 0)
                               && col_push(&o->rtext, text.p, text.n, 0)
                               && col_push(&o->rmedia, (const unsigned char *)"", 0, 0));
                        rec_this_doc++;
                    }
                    if (g->want_markdown) {
                        int is_title = beq(kind, K_TITLE, 5);
                        OOMCHK(buf_add(mdbuf,
                                       is_title ? g->sep_title : g->sep_para,
                                       is_title ? g->sep_title_len
                                                : g->sep_para_len)
                               && buf_add(mdbuf, text.p, text.n));
                    }
                } else {
                    if (g->want_markdown)
                        OOMCHK(buf_add(mdbuf, text.p, text.n));
                    if (g->want_records) {
                        if (rec_this_doc > 0) {
                            OOMCHK(col_append_last(&o->rtext, text.p, text.n));
                        } else {
                            OOMCHK(col_push(&o->rkind, kind.p, kind.n, 0)
                                   && col_push(&o->rtext, text.p, text.n, 0)
                                   && col_push(&o->rmedia, (const unsigned char *)"", 0, 0));
                            rec_this_doc++;
                        }
                    }
                }
            }
            /* caption <-> media positional match */
            if (g->want_markdown)
                OOMCHK(buf_add(mdbuf, g->page_sep, g->page_sep_len));
            long long ti = 0, fi = 0;
            for (int pass = 0; pass < 2; pass++) {
                for (long long m = 0; m < nm; m++) {
                    long long i = media_i[m];
                    Bytes mk = astr_get(kinds, i);
                    int is_table = beq(mk, (const unsigned char *)"table", 5);
                    if ((pass == 0) != is_table) continue;
                    Bytes ref = astr_get(medias, i);
                    Bytes cap;
                    if (is_table) {
                        cap = (ti < n_tg)
                            ? BC(tbuf.p + tg[ti * 2], tg[ti * 2 + 1] - tg[ti * 2])
                            : BC(g->unmatched, g->unmatched_len);
                        ti++;
                    } else {
                        cap = (fi < n_fg)
                            ? BC(fbuf.p + fg[fi * 2], fg[fi * 2 + 1] - fg[fi * 2])
                            : BC(g->unmatched, g->unmatched_len);
                        fi++;
                    }
                    /* persist (cap, ref) for records-at-end */
                    if (n_tcap + n_fcap + 1 > cap_cap) {
                        long long nc = cap_cap ? cap_cap * 2 : 64;
                        long long *nt = realloc(tcap_off,
                                                (size_t)nc * 2 * sizeof(long long));
                        long long *nf = realloc(fcap_off,
                                                (size_t)nc * 2 * sizeof(long long));
                        Bytes *rt = realloc(tcap_ref, (size_t)nc * sizeof(Bytes));
                        Bytes *rf = realloc(fcap_ref, (size_t)nc * sizeof(Bytes));
                        if (!nt || !nf || !rt || !rf) {
                            tcap_off = nt ? nt : tcap_off;
                            fcap_off = nf ? nf : fcap_off;
                            tcap_ref = rt ? rt : tcap_ref;
                            fcap_ref = rf ? rf : fcap_ref;
                            rc = -1; o->oom = 1; goto done_page_alloc;
                        }
                        tcap_off = nt; fcap_off = nf;
                        tcap_ref = rt; fcap_ref = rf;
                        cap_cap = nc;
                    }
                    long long cs = capbuf.len;
                    OOMCHK(buf_add(&capbuf, cap.p, cap.n));
                    if (is_table) {
                        tcap_off[n_tcap * 2] = cs;
                        tcap_off[n_tcap * 2 + 1] = capbuf.len;
                        tcap_ref[n_tcap] = ref;
                        n_tcap++;
                    } else {
                        fcap_off[n_fcap * 2] = cs;
                        fcap_off[n_fcap * 2 + 1] = capbuf.len;
                        fcap_ref[n_fcap] = ref;
                        n_fcap++;
                    }
                    if (g->want_markdown) {
                        if (is_table) {
                            OOMCHK(buf_add(mdbuf, cap.p, cap.n)
                                   && buf_add(mdbuf, g->sep_media, g->sep_media_len)
                                   && buf_add(mdbuf, (const unsigned char *)"![](", 4)
                                   && buf_add(mdbuf, ref.p, ref.n)
                                   && buf_add(mdbuf, (const unsigned char *)")", 1)
                                   && buf_add(mdbuf, g->sep_media, g->sep_media_len));
                        } else {
                            OOMCHK(buf_add(mdbuf, (const unsigned char *)"![](", 4)
                                   && buf_add(mdbuf, ref.p, ref.n)
                                   && buf_add(mdbuf, (const unsigned char *)")", 1)
                                   && buf_add(mdbuf, g->sep_media, g->sep_media_len)
                                   && buf_add(mdbuf, cap.p, cap.n)
                                   && buf_add(mdbuf, g->sep_media, g->sep_media_len));
                        }
                    }
                }
            }
            s = e;
        }
done_page_alloc:
        free(t_kind); free(t_text); free(t_y1); free(t_x1);
        free(bx2); free(by2); free(oidx); free(ox0); free(media_i);
        free(tbuf.p); free(fbuf.p); free(tg); free(fg);
        free(pg); free(y1a); free(x1a); free(order);
        if (rc) {
            free(capbuf.p); free(tcap_off); free(fcap_off);
            free(tcap_ref); free(fcap_ref);
            return rc;
        }
    }
    /* records-at-end: table_caps then figure_caps */
    if (g->want_records) {
        for (long long t = 0; t < n_tcap; t++) {
            if (!(col_push(&o->rkind, K_TABCAP, 13, 0)
                  && col_push(&o->rtext, capbuf.p + tcap_off[t * 2],
                              tcap_off[t * 2 + 1] - tcap_off[t * 2], 0)
                  && col_push(&o->rmedia, tcap_ref[t].p, tcap_ref[t].n, 0))) {
                o->oom = 1; rc = -1; goto done_caps;
            }
            rec_this_doc++;
        }
        for (long long t = 0; t < n_fcap; t++) {
            if (!(col_push(&o->rkind, K_FIGCAP, 14, 0)
                  && col_push(&o->rtext, capbuf.p + fcap_off[t * 2],
                              fcap_off[t * 2 + 1] - fcap_off[t * 2], 0)
                  && col_push(&o->rmedia, fcap_ref[t].p, fcap_ref[t].n, 0))) {
                o->oom = 1; rc = -1; goto done_caps;
            }
            rec_this_doc++;
        }
    }
    if (!push_count_ex(o, rec_this_doc)) { o->oom = 1; rc = -1; }
    if (!rc && !col_push(&o->md, mdbuf->p, g->want_markdown ? mdbuf->len : 0,
                         0)) {
        o->oom = 1; rc = -1;
    }
done_caps:
    free(capbuf.p); free(tcap_off); free(fcap_off);
    free(tcap_ref); free(fcap_ref);
    return rc;
}

void free_exout(ExOut *o) {
    if (!o) return;
    free(o->rkind.vals); free(o->rkind.offs); free(o->rkind.valid);
    free(o->rtext.vals); free(o->rtext.offs); free(o->rtext.valid);
    free(o->rmedia.vals); free(o->rmedia.offs); free(o->rmedia.valid);
    free(o->md.vals); free(o->md.offs); free(o->md.valid);
    free(o->counts);
    free(o);
}

/* batch entry: doc list offsets select child ranges per doc */
ExOut *extract_batch(const ExCfg *g,
                     const unsigned char *kv, const int *ko, const unsigned char *kb,
                     const unsigned char *tv, const int *to, const unsigned char *tb,
                     const unsigned char *mv, const int *mo, const unsigned char *mb,
                     const int *offv, const unsigned char *offb,
                     const int *list_offs, const unsigned char *list_bm,
                     long long n_docs) {
    ExOut *o = calloc(1, sizeof(ExOut));
    if (!o) return NULL;
    AStr kinds = {kv, ko, kb}, texts = {tv, to, tb}, medias = {mv, mo, mb};
    Buf mdbuf = {0, 0, 0};
    for (long long d = 0; d < n_docs; d++) {
        long long lo, hi;
        if (!bit_get(list_bm, d)) { lo = 0; hi = 0; }   /* null spans */
        else { lo = list_offs[d]; hi = list_offs[d + 1]; }
        if (extract_one(g, &kinds, &texts, &medias, offv, offb, lo, hi,
                        o, &mdbuf) != 0) {
            free(mdbuf.p);
            return o;   /* o->oom set; caller falls back */
        }
    }
    free(mdbuf.p);
    return o;
}

/* =====================================================================
 * MinHash kernel: seeded-md5 word-n-gram minima per row (round 7).
 *
 * Twin of operators/dedup.minhash_from_text's inner loop: per text row,
 * split on SINGLE 0x20 bytes (consecutive spaces yield empty words,
 * exactly like Python bytes.split(b" ")), hash every n-gram's ORIGINAL
 * byte span (join-with-single-space of adjacent words reproduces the
 * source bytes verbatim) under each "i:" seed prefix with md5, and keep
 * the per-seed minimum of (first 8 digest bytes big-endian) >> 4.
 * ===================================================================== */

typedef struct {
    unsigned int a, b, c, d;
    unsigned long long nbits;
    unsigned char buf[64];
    int buflen;
} MD5s;

static const unsigned int MD5K[64] = {
0xd76aa478u,0xe8c7b756u,0x242070dbu,0xc1bdceeeu,0xf57c0fafu,0x4787c62au,
0xa8304613u,0xfd469501u,0x698098d8u,0x8b44f7afu,0xffff5bb1u,0x895cd7beu,
0x6b901122u,0xfd987193u,0xa679438eu,0x49b40821u,0xf61e2562u,0xc040b340u,
0x265e5a51u,0xe9b6c7aau,0xd62f105du,0x02441453u,0xd8a1e681u,0xe7d3fbc8u,
0x21e1cde6u,0xc33707d6u,0xf4d50d87u,0x455a14edu,0xa9e3e905u,0xfcefa3f8u,
0x676f02d9u,0x8d2a4c8au,0xfffa3942u,0x8771f681u,0x6d9d6122u,0xfde5380cu,
0xa4beea44u,0x4bdecfa9u,0xf6bb4b60u,0xbebfbc70u,0x289b7ec6u,0xeaa127fau,
0xd4ef3085u,0x04881d05u,0xd9d4d039u,0xe6db99e5u,0x1fa27cf8u,0xc4ac5665u,
0xf4292244u,0x432aff97u,0xab9423a7u,0xfc93a039u,0x655b59c3u,0x8f0ccc92u,
0xffeff47du,0x85845dd1u,0x6fa87e4fu,0xfe2ce6e0u,0xa3014314u,0x4e0811a1u,
0xf7537e82u,0xbd3af235u,0x2ad7d2bbu,0xeb86d391u};
static const int MD5R[64] = {
7,12,17,22,7,12,17,22,7,12,17,22,7,12,17,22,
5,9,14,20,5,9,14,20,5,9,14,20,5,9,14,20,
4,11,16,23,4,11,16,23,4,11,16,23,4,11,16,23,
6,10,15,21,6,10,15,21,6,10,15,21,6,10,15,21};

#define MD5_ROTL(x, c) (((x) << (c)) | ((x) >> (32 - (c))))
#define MD5_STEP(F, A, B, C, D, Mg, Ki, Ri) \
    A += F(B, C, D) + Mg + Ki; A = B + MD5_ROTL(A, Ri);
#define MD5_F1(b, c, d) (((b) & (c)) | (~(b) & (d)))
#define MD5_F2(b, c, d) (((d) & (b)) | (~(d) & (c)))
#define MD5_F3(b, c, d) ((b) ^ (c) ^ (d))
#define MD5_F4(b, c, d) ((c) ^ ((b) | ~(d)))

static void md5_compress(MD5s *s, const unsigned char *p) {
    unsigned int M[16];
    int i;
    for (i = 0; i < 16; i++)
        M[i] = (unsigned int)p[i*4] | ((unsigned int)p[i*4+1] << 8)
             | ((unsigned int)p[i*4+2] << 16) | ((unsigned int)p[i*4+3] << 24);
    unsigned int A = s->a, B = s->b, C = s->c, D = s->d;
    int g;
    for (i = 0; i < 16; i += 4) {
        MD5_STEP(MD5_F1, A, B, C, D, M[i],     MD5K[i],     MD5R[i])
        MD5_STEP(MD5_F1, D, A, B, C, M[i + 1], MD5K[i + 1], MD5R[i + 1])
        MD5_STEP(MD5_F1, C, D, A, B, M[i + 2], MD5K[i + 2], MD5R[i + 2])
        MD5_STEP(MD5_F1, B, C, D, A, M[i + 3], MD5K[i + 3], MD5R[i + 3])
    }
    for (i = 16; i < 32; i += 4) {
        g = (5*i + 1) & 15;
        MD5_STEP(MD5_F2, A, B, C, D, M[g],            MD5K[i],     MD5R[i])
        MD5_STEP(MD5_F2, D, A, B, C, M[(g + 5) & 15], MD5K[i + 1], MD5R[i + 1])
        MD5_STEP(MD5_F2, C, D, A, B, M[(g + 10) & 15], MD5K[i + 2], MD5R[i + 2])
        MD5_STEP(MD5_F2, B, C, D, A, M[(g + 15) & 15], MD5K[i + 3], MD5R[i + 3])
    }
    for (i = 32; i < 48; i += 4) {
        g = (3*i + 5) & 15;
        MD5_STEP(MD5_F3, A, B, C, D, M[g],            MD5K[i],     MD5R[i])
        MD5_STEP(MD5_F3, D, A, B, C, M[(g + 3) & 15], MD5K[i + 1], MD5R[i + 1])
        MD5_STEP(MD5_F3, C, D, A, B, M[(g + 6) & 15], MD5K[i + 2], MD5R[i + 2])
        MD5_STEP(MD5_F3, B, C, D, A, M[(g + 9) & 15], MD5K[i + 3], MD5R[i + 3])
    }
    for (i = 48; i < 64; i += 4) {
        g = (7*i) & 15;
        MD5_STEP(MD5_F4, A, B, C, D, M[g],            MD5K[i],     MD5R[i])
        MD5_STEP(MD5_F4, D, A, B, C, M[(g + 7) & 15], MD5K[i + 1], MD5R[i + 1])
        MD5_STEP(MD5_F4, C, D, A, B, M[(g + 14) & 15], MD5K[i + 2], MD5R[i + 2])
        MD5_STEP(MD5_F4, B, C, D, A, M[(g + 21) & 15], MD5K[i + 3], MD5R[i + 3])
    }
    s->a += A; s->b += B; s->c += C; s->d += D;
}

static void md5_init(MD5s *s) {
    s->a = 0x67452301u; s->b = 0xefcdab89u;
    s->c = 0x98badcfeu; s->d = 0x10325476u;
    s->nbits = 0; s->buflen = 0;
}

static void md5_update(MD5s *s, const unsigned char *p, long long n) {
    s->nbits += (unsigned long long)n * 8;
    while (n > 0) {
        int take = 64 - s->buflen;
        if (take > n) take = (int)n;
        memcpy(s->buf + s->buflen, p, (size_t)take);
        s->buflen += take; p += take; n -= take;
        if (s->buflen == 64) { md5_compress(s, s->buf); s->buflen = 0; }
    }
}

/* first 8 digest bytes as a big-endian u64, >> 4 (the portable-hash
 * int(md5(...).hexdigest()[:15], 16) value) */
static long long md5_final_h60(MD5s *s) {
    unsigned long long nbits = s->nbits;
    static const unsigned char PAD[64] = { 0x80 };  /* 0x80 then zeros */
    int padlen = (s->buflen < 56) ? 56 - s->buflen : 120 - s->buflen;
    md5_update(s, PAD, padlen);
    unsigned char lenb[8];
    int i;
    for (i = 0; i < 8; i++) lenb[i] = (unsigned char)(nbits >> (8 * i));
    md5_update(s, lenb, 8);
    /* digest bytes 0..7 = a,b little-endian; assemble big-endian u64 */
    unsigned char d[8];
    for (i = 0; i < 4; i++) d[i]     = (unsigned char)(s->a >> (8 * i));
    for (i = 0; i < 4; i++) d[4 + i] = (unsigned char)(s->b >> (8 * i));
    unsigned long long v = 0;
    for (i = 0; i < 8; i++) v = (v << 8) | d[i];
    return (long long)(v >> 4);
}

/* one-shot digest of a small contiguous message: single-block fast path
 * (message <= 55 bytes pads into ONE compress), streaming fallback */
static long long md5_h60(const unsigned char *msg, long long n) {
    MD5s st;
    md5_init(&st);
    if (n <= 55) {
        unsigned char blk[64];
        memcpy(blk, msg, (size_t)n);
        blk[n] = 0x80;
        memset(blk + n + 1, 0, (size_t)(56 - n - 1));
        unsigned long long nbits = (unsigned long long)n * 8;
        int i;
        for (i = 0; i < 8; i++)
            blk[56 + i] = (unsigned char)(nbits >> (8 * i));
        md5_compress(&st, blk);
        unsigned char d[8];
        for (i = 0; i < 4; i++) d[i]     = (unsigned char)(st.a >> (8 * i));
        for (i = 0; i < 4; i++) d[4 + i] = (unsigned char)(st.b >> (8 * i));
        unsigned long long v = 0;
        for (i = 0; i < 8; i++) v = (v << 8) | d[i];
        return (long long)(v >> 4);
    }
    md5_update(&st, msg, n);
    return md5_final_h60(&st);
}

/* rows with emit[i]=0 produced no shingles (null text or < ngram words)
 * and must not be output. mins is nrows*nh int64, row-major.
 * Returns nrows, or -1 on allocation failure (caller falls back). */
long long minhash_text(const unsigned char *valid, const int *offs,
                       const unsigned char *data, long long nrows,
                       int ngram, int nh,
                       long long *mins, unsigned char *emit)
{
    if (ngram < 1 || nh < 1 || nh > 64) return -1;
    char prefix[64][4];
    int plen[64];
    int i;
    for (i = 0; i < nh; i++)
        plen[i] = snprintf(prefix[i], 4, "%d:", i);
    long long starts_cap = 64;
    long long *starts = malloc((size_t)starts_cap * sizeof(long long));
    long long scratch_cap = 256;
    /* layout: [3-byte prefix slot][shingle bytes] so the shingle is
     * copied ONCE per shingle and each seed only rewrites its prefix */
    unsigned char *scratch = malloc((size_t)scratch_cap);
    if (!starts || !scratch) { free(starts); free(scratch); return -1; }
    const long long SENTINEL = 1LL << 62;
    long long r;
    for (r = 0; r < nrows; r++) {
        emit[r] = 0;
        if (valid && !(valid[r >> 3] & (1u << (r & 7)))) continue;
        long long s = offs[r], e = offs[r + 1];
        /* word starts: 0x20 is a hard separator; empty words count */
        long long nw = 0;
        long long p = s;
        for (;;) {
            if (nw == starts_cap) {
                starts_cap *= 2;
                long long *ns = realloc(starts,
                                        (size_t)starts_cap * sizeof(long long));
                if (!ns) { free(starts); free(scratch); return -1; }
                starts = ns;
            }
            starts[nw++] = p;
            while (p < e && data[p] != 0x20) p++;
            if (p == e) break;
            p++;  /* past the space; a trailing space yields an empty word */
        }
        long long nsh = nw - ngram + 1;
        if (nsh <= 0) continue;
        long long *row = mins + r * nh;
        for (i = 0; i < nh; i++) row[i] = SENTINEL;
        long long k;
        for (k = 0; k < nsh; k++) {
            long long sb = starts[k];
            long long se = (k + ngram < nw) ? starts[k + ngram] - 1 : e;
            long long slen = se - sb;
            if (slen + 8 > scratch_cap) {
                while (slen + 8 > scratch_cap) scratch_cap *= 2;
                unsigned char *nscr = realloc(scratch, (size_t)scratch_cap);
                if (!nscr) { free(starts); free(scratch); return -1; }
                scratch = nscr;
            }
            if (slen) memcpy(scratch + 3, data + sb, (size_t)slen);
            for (i = 0; i < nh; i++) {
                unsigned char *m0 = scratch + 3 - plen[i];
                memcpy(m0, prefix[i], (size_t)plen[i]);
                long long v = md5_h60(m0, plen[i] + slen);
                if (v < row[i]) row[i] = v;
            }
        }
        emit[r] = 1;
    }
    free(starts);
    free(scratch);
    return nrows;
}
