"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a text corpus,
each with an exactly-matching DuckDB oracle. Cross-engine determinism comes
from a *portable hash*: the first 15 hex digits of md5 interpreted as int64 —
identical in Spark (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,15))::BIGINT``). At 100TB you would swap md5 for
``xxhash64`` (same plan shape, one JVM hash per shingle instead of md5); the
md5 choice here buys bit-exact oracle parity.

Scale notes (the plans are the ones you'd run on a 1000-executor cluster):

* shingling + min-hash is map-side only (explode → partial min agg);
* the only shuffles are the band-bucket self-join (LSH's point: candidates,
  not all pairs) and the final distinct;
* hot buckets (degenerate shingles) are AQE-skew-join handled AND hard-capped:
  the candidate self-joins in ``ngram_jaccard`` / ``simhash_pairs`` drop any
  bucket wider than ``NGRAM_DF_CAP`` / ``SIMHASH_BUCKET_CAP`` before joining,
  bounding a bucket's pair contribution to CAP² — without the cap one
  stop-shingle ("of the and") shared by 10^9 docs makes that bucket
  quadratic. The cap is applied IDENTICALLY in the DuckDB oracles (QUALIFY on
  the same window count), so capped semantics are cross-engine exact, and it
  is far above any sf-scale bucket width, so sf output is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import q_sql, quantize, register, _t

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 15 bits each; hamming<=threshold pairs share >=1 chunk

# Hot-bucket guards. A shingle in > NGRAM_DF_CAP documents is a stop-shingle:
# it contributes nothing to discriminating near-duplicates but DF² join rows;
# dropping it changes Jaccard semantics to "Jaccard over discriminative
# shingles" (numerator AND both set sizes computed post-cap, so the measure
# stays a true Jaccard on the reduced universe). Same shape for SimHash chunk
# buckets — there the cap trades recall (the pigeonhole guarantee already only
# covers hamming ≤ SIMHASH_CHUNKS-1); at 10^12 docs you additionally widen the
# 15-bit chunks so expected bucket width stays O(CAP) (more chunk bits per
# doubling, the standard SimHash scaling), the cap is the backstop that keeps
# an adversarial hot bucket from going quadratic regardless.
NGRAM_DF_CAP = 5000
SIMHASH_BUCKET_CAP = 5000


# ---------------------------------------------------------------------------
# shared building blocks (Spark side)
# ---------------------------------------------------------------------------


def portable_hash(col, salt: str | None = None):
    """First 15 hex digits of md5 as int64 — bit-identical in DuckDB."""
    c = F.concat(F.lit(f"{salt}:"), col) if salt is not None else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _sql_hash(expr: str, salt: str | None = None) -> str:
    # '||', never concat(): DuckDB's concat() SKIPS null args while Spark's
    # propagates them, so a NULL key would hash as just the salt on one
    # engine and stay NULL on the other (tools/adversarial_gate.py seed 31)
    e = f"('{salt}:' || ({expr}))" if salt is not None else expr
    return f"CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)"


def with_dup_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ deterministic near-duplicates (doc_id+100000, last 5 words
    dropped) for every doc_id % 7 == 0 — gives the dedup operators real work
    on the driver's synthetic corpus. SQL twin: ``DUP_CORPUS_SQL``.

    The union is spread across cores (registry.spread_scan — the sf
    tables are one unsplittable row group, which serialized every
    detector's map side; no-op at scale). Spreading the union rather than
    the docs before it gives one partition per core instead of two, so the
    Python minhash kernel runs one wave of tasks, not two, and a wave of
    Python tasks has a fixed cost (an identity ``mapInArrow`` over 4,000
    rows on 4 cores, warm: 0.38 s over 4 partitions, 0.63 s over 8)."""
    from ..registry import spread_scan

    docs = docs.select("doc_id", "text")
    dups = (
        docs.where(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(
                F.slice(F.split("text", " "), 1,
                        F.greatest(F.size(F.split("text", " ")) - 5, F.lit(1))),
                " ").alias("text"),
        )
    )
    return spread_scan(docs.unionByName(dups))


DUP_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(string_split(text, ' ')[1:greatest(len(string_split(text, ' ')) - 5, 1)], ' ') AS text
  FROM documents WHERE doc_id % 7 = 0
"""


def shingles(corpus: DataFrame, n: int = 3,
             dedupe: bool | str = True) -> DataFrame:
    """(doc_id, shingle) — word n-grams. ``dedupe`` picks the dedup level:

    * True — DISTINCT (doc_id, shingle): exact cross-row semantics (rows
      sharing a doc_id — e.g. a null-id group — merge their sets), one
      exchange;
    * "row" — ``array_distinct`` per corpus ROW only: docs arrive one row
      per doc, so this is the per-doc distinct WITHOUT the exchange
      (map-side only); equal to True wherever doc_ids are row-unique, and
      always a safe feed for dedup-invariant aggregates (min);
    * False — raw occurrences, map-side only."""
    toks = corpus.select("doc_id", F.split("text", " ").alias("l"))
    # NB: Spark's sequence(1, 0) is a DESCENDING [1,0], not empty — guard
    # short docs explicitly (DuckDB's range(1,1) is empty).
    arr = (f"if(size(l) >= {n}, transform(sequence(1, size(l) - {n - 1}), "
           f"i -> concat_ws(' ', {', '.join(f'element_at(l, i + {k})' for k in range(n))})), "
           "array())")
    if dedupe == "row":
        arr = f"array_distinct({arr})"
    sh = toks.select("doc_id", F.explode(F.expr(arr)).alias("shingle"))
    return sh.distinct() if dedupe is True else sh


def shingle_hashes(corpus: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h) DISTINCT — the int64 twin of ``shingles(dedupe=True)``
    with the portable hash applied BEFORE the distinct: the exchange
    reconciling cross-row duplicate doc_ids (null-id groups) carries int64
    pairs instead of shingle strings, and every downstream keyed operation
    (simhash bit sums, the jaccard df-window / inverted-index self-join)
    sorts, shuffles and compares 8-byte ints. Within-row duplicates are
    removed free by ``array_distinct`` (docs arrive one row per doc).

    Equality to the string-keyed formulation is modulo md5₁₅ collisions
    (60-bit space; ~5e-5 collision probability anywhere in a 10M-shingle
    corpus, zero at oracle-comparison scales) — the same accepted risk as
    every portable-hash key in this module."""
    sh = shingles(corpus, n, dedupe="row")
    return sh.select(
        "doc_id", portable_hash(F.col("shingle")).alias("h")).distinct()


SHINGLES_SQL = """
  SELECT DISTINCT doc_id,
         unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                 for i in range(1, greatest(len(l) - 1, 1))]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM ({corpus}))
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """doc_id → m0..m{N-1}: min over shingles of salted portable hash.
    Partial (map-side) min aggregation — one narrow shuffle on doc_id."""
    return sh.groupBy("doc_id").agg(
        *[F.min(portable_hash(F.col("shingle"), str(i))).alias(f"m{i}")
          for i in range(N_MINHASH)])


def minhash_from_text(corpus: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → m0..m{N-1}, computed by ONE ``mapInArrow`` over corpus rows.

    Value-identical to ``minhash_signatures(shingles(corpus, dedupe=False))``
    (pinned in tests/test_dedup_caps.py): per row, split the UTF-8 text on
    single spaces, hash every word n-gram with the N_MINHASH salted
    portable hashes (``int(md5(f"{i}:{s}").hexdigest()[:15], 16)`` — bit-
    exact with the JVM/DuckDB expression), and emit the per-row minima;
    a doc_id groupBy-min then merges duplicate-id rows (null-id groups)
    exactly like the aggregation it replaces.

    Why Python (guide §1.2 "per-task work", round 7): the Catalyst
    expression chain conv(substr(md5(concat(salt, shingle)),1,15),16,10)
    × N_MINHASH salts measured ~30 s at 3M shingles on 32 cores (~20 µs
    per salted hash — the concat/hex-string/conv chain, not the digest,
    dominates), while hashlib's C md5 with seeded-prefix ``copy()`` does
    ~1 µs. The explode also disappears: only (doc_id, text) enters the
    worker and only the 17-column signature row leaves, so nothing about
    this widens any exchange — the one shuffle (doc_id, 16×int64 partials)
    is unchanged."""
    from pyspark.sql import types as T

    id_type = corpus.schema["doc_id"].dataType
    out_schema = T.StructType(
        [T.StructField("doc_id", id_type)]
        + [T.StructField(f"m{i}", T.LongType()) for i in range(N_MINHASH)])
    n_hash = N_MINHASH

    def _mh(it):
        from hashlib import md5

        import pyarrow as pa

        from .. import native

        seeds = [md5(f"{i}:".encode()) for i in range(n_hash)]
        sentinel = 1 << 62  # every real hash is < 2^60
        sep = b" "
        for batch in it:
            got = native.minhash_text_batch(batch.column("text"), n, n_hash)
            if got is not None:
                # C twin (round 7 continuation): same seeded-md5 minima at
                # ~5× the hashlib loop (differential pin in
                # tests/test_native_minhash.py); None → Python path below
                emit, mins = got
                if emit.any():
                    ids_col = batch.column("doc_id")
                    if isinstance(ids_col, pa.ChunkedArray):
                        ids_col = ids_col.combine_chunks()
                    mask = pa.array(emit)
                    kept = mins[emit]
                    yield pa.RecordBatch.from_arrays(
                        [ids_col.filter(mask)]
                        + [pa.array(kept[:, i], pa.int64())
                           for i in range(n_hash)],
                        ["doc_id"] + [f"m{i}" for i in range(n_hash)])
                continue
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            o_ids: list = []
            o_cols: list[list[int]] = [[] for _ in range(n_hash)]
            for did, t in zip(ids, texts):
                if t is None:
                    continue
                bw = t.encode("utf-8").split(sep)
                n_sh = len(bw) - n + 1
                if n_sh <= 0:
                    continue
                mins = [sentinel] * n_hash
                for k in range(n_sh):
                    sb = sep.join(bw[k:k + n])
                    for i, seed in enumerate(seeds):
                        hh = seed.copy()
                        hh.update(sb)
                        v = int.from_bytes(hh.digest()[:8], "big") >> 4
                        if v < mins[i]:
                            mins[i] = v
                o_ids.append(did)
                for i in range(n_hash):
                    o_cols[i].append(mins[i])
            if o_ids:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(o_ids, batch.schema.field("doc_id").type)]
                    + [pa.array(c, pa.int64()) for c in o_cols],
                    ["doc_id"] + [f"m{i}" for i in range(n_hash)])

    partials = corpus.select("doc_id", "text").mapInArrow(_mh, out_schema)
    return partials.groupBy("doc_id").agg(
        *[F.min(f"m{i}").alias(f"m{i}") for i in range(N_MINHASH)])


def lsh_candidate_pairs(sig: DataFrame,
                        bucket_cap: int = SIMHASH_BUCKET_CAP) -> DataFrame:
    """Band signatures → bucket self-join → candidate pairs (doc_a < doc_b).

    Hot-bucket guard (same shape as simhash_pairs): a band bucket only gets
    wide when many documents share a full 4-minhash band — at 10^12 docs
    that's mass-duplicated boilerplate, which exact dedup upstream should
    have removed, and which would otherwise make this bucket's self-join
    quadratic. Buckets wider than the cap are dropped before the join; the
    window count partitions by the join key so the guard reuses the join's
    exchange. Mirrored verbatim in the oracle via QUALIFY."""
    rows = N_MINHASH // N_BANDS
    keys = ", ".join(
        "concat_ws(',', " + ", ".join(
            f"CAST(m{b * rows + r} AS STRING)" for r in range(rows)) + ")"
        for b in range(N_BANDS))
    bands = sig.selectExpr("doc_id",
                           f"posexplode(array({keys})) AS (band, sig)")
    wb = Window.partitionBy("band", "sig")
    bands = (bands.withColumn("bw", F.count("*").over(wb))
             .where(F.col("bw") <= bucket_cap).drop("bw"))
    a = bands.alias("a")
    # "merge" hint (round-3 driver regression, r2→r3 +28% wall): without it
    # the optimizer may flip this self-join to BroadcastHashJoin, which
    # DESTROYS exchange reuse — a broadcast build can't reuse the other
    # side's shuffle, so the whole shingle→minhash→window pipeline runs
    # TWICE (observed: 5 exchanges vs 3). With sort-merge, the window's
    # (band, sig) exchange already satisfies the join distribution on both
    # sides, the b side collapses to a ReusedExchange, and the signature
    # pipeline is computed exactly once (pinned in tests/test_plans.py).
    b = bands.hint("merge").alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_sql(bucket_cap: int = SIMHASH_BUCKET_CAP) -> str:
    mins = ", ".join(
        f"min({_sql_hash('shingle', str(i))}) AS m{i}" for i in range(N_MINHASH)
    )
    rows = N_MINHASH // N_BANDS
    sigs = ", ".join(
        "concat_ws(',', " + ", ".join(f"m{b * rows + r}" for r in range(rows)) + ")"
        for b in range(N_BANDS)
    )
    bandidx = ", ".join(str(b) for b in range(N_BANDS))
    sh = SHINGLES_SQL.format(corpus=DUP_CORPUS_SQL)
    return f"""
    WITH sh AS ({sh}),
         mh AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
         bands0 AS (SELECT doc_id, unnest([{sigs}]) AS sig,
                           unnest([{bandidx}]) AS band FROM mh),
         bands AS (SELECT doc_id, sig, band FROM bands0
                   QUALIFY count(*) OVER (PARTITION BY band, sig)
                           <= {bucket_cap})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """


@register("dedup_minhash_lsh", None)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via MinHash(16) + LSH(4 bands × 4 rows) over word
    3-gram shingles. Candidates only — the LSH contract; verified below by the
    exact-Jaccard oracle twin.

    min() over a shingle multiset equals min() over its set, so no distinct
    is needed anywhere (the oracle keeps DISTINCT; the minima are identical
    by construction). Signatures come from the Python md5 kernel
    (``minhash_from_text`` — round 7: ~10× over the Catalyst conv/substr/
    md5 expression chain, value-identical, pinned in test_dedup_caps)."""
    corpus = with_dup_corpus(_t(spark, sf_dir, "documents"))
    return lsh_candidate_pairs(minhash_from_text(corpus))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(sh: DataFrame) -> DataFrame:
    """60-bit SimHash over shingle hashes (bit j set iff majority of shingles
    have bit j set). Pure aggregation — map-side partials, one shuffle.

    If ``sh`` already carries an ``h`` column (the unsalted portable hash) it
    is consumed as-is instead of recomputing md5 per shingle — the
    detector-union composition (operators/cluster.py) persists the shared
    shingle table WITH the hash so the md5 pass over it runs once, not twice
    (round-4 verdict #6; value-identical by construction, since ``h`` is
    the same ``portable_hash`` expression; at sf0.1 the saving was within
    noise: the aggregation, not the hash, dominates)."""
    if "h" not in sh.columns:
        sh = sh.select("doc_id", portable_hash(F.col("shingle")).alias("h"))
    # the wide expressions go in as SQL strings, one py4j call per operator
    # instead of one per Column (hundreds for 60 bits)
    names = [f"s{j}" for j in range(SIMHASH_BITS)]
    signs = sh.selectExpr("doc_id", *[
        f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END AS s{j}"
        for j in range(SIMHASH_BITS)])
    packed = " | ".join(f"(CAST(`sum(s{j})` >= 0 AS BIGINT) << {j})"
                        for j in range(SIMHASH_BITS))
    return (signs.groupBy("doc_id").sum(*names)
            .selectExpr("doc_id", f"{packed} AS simhash"))


def simhash_pairs(simdf: DataFrame, max_hamming: int = 10,
                  bucket_cap: int = SIMHASH_BUCKET_CAP,
                  n_chunks: int = SIMHASH_CHUNKS) -> DataFrame:
    """Chunk-bucketed candidate join (default 4 × 15-bit chunks) + exact
    hamming filter. The pigeonhole guarantee is hamming ≤ n_chunks-1 ⇒ some
    chunk equal; larger radii are best-effort recall, exactly like production
    SimHash dedup. ``n_chunks`` is the scale knob (must divide SIMHASH_BITS):
    fewer, wider chunks shrink the explode and candidate volume at the cost
    of the pigeonhole radius; the registered queries keep the default.

    Hot-bucket guard: buckets wider than ``bucket_cap`` are dropped before
    the self-join (window count partitions by the same key the join shuffles
    on, so the guard reuses the join's exchange — no extra shuffle). Bounded
    recall loss on pathological buckets beats a CAP²→width² quadratic join."""
    w = SIMHASH_BITS // n_chunks
    mask = (1 << w) - 1
    chunks = simdf.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.expr(f"(simhash >> {w * c}) & {mask}") for c in range(n_chunks)
        ])).alias("chunk", "ckey"),
    )
    wb = Window.partitionBy("chunk", "ckey")
    chunks = (chunks.withColumn("bw", F.count("*").over(wb))
              .where(F.col("bw") <= bucket_cap).drop("bw"))
    # merge hint: same exchange-reuse argument as lsh_candidate_pairs — a
    # broadcast flip would recompute the whole simhash aggregation twice
    a, b = chunks.alias("a"), chunks.hint("merge").alias("b")
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.ckey") == F.col("b.ckey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("long").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def _simhash_sql(max_hamming: int = 10,
                 bucket_cap: int = SIMHASH_BUCKET_CAP) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    simexpr = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN 1::BIGINT ELSE 0::BIGINT END * {1 << j}::BIGINT)"
        for j in range(SIMHASH_BITS)
    )
    ckeys = ", ".join(f"(simhash >> {15 * c}) & 32767" for c in range(SIMHASH_CHUNKS))
    cidx = ", ".join(str(c) for c in range(SIMHASH_CHUNKS))
    sh = SHINGLES_SQL.format(corpus=DUP_CORPUS_SQL)
    return f"""
    WITH sh AS ({sh}),
         hs AS (SELECT doc_id, {_sql_hash('shingle')} AS h FROM sh),
         bits AS (SELECT doc_id, {sums} FROM hs GROUP BY doc_id),
         sim AS (SELECT doc_id, {simexpr} AS simhash FROM bits),
         chunks0 AS (SELECT doc_id, simhash, unnest([{ckeys}]) AS ckey,
                            unnest([{cidx}]) AS chunk FROM sim),
         chunks AS (SELECT doc_id, simhash, ckey, chunk FROM chunks0
                    QUALIFY count(*) OVER (PARTITION BY chunk, ckey)
                            <= {bucket_cap})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT))::BIGINT AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) <= {max_hamming}
    """


@register("dedup_simhash", None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = with_dup_corpus(_t(spark, sf_dir, "documents"))
    return simhash_pairs(simhash(shingles(corpus)))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------


@register("dedup_ngram_jaccard", None)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.5,
                        df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Exact Jaccard over word 3-gram shingle *sets*, candidate pairs from the
    shared-shingle inverted index (never all-pairs).

    Hot-bucket guard: shingles in more than ``df_cap`` documents are removed
    from the universe BEFORE sizes and the self-join — both the numerator and
    the set sizes see the same reduced universe, so the score stays a true
    Jaccard (over discriminative shingles) and one stop-shingle can't make a
    DF² join bucket. The window count partitions by the join key, so Catalyst
    reuses one exchange for guard + join.

    Round 7: the inverted index is keyed on the portable HASH of the
    shingle (``shingle_hashes``) — the df-window sort, the self-join and
    every exchange operate on int64 instead of shingle strings (guide
    §2.3 narrower types; same md5₁₅-collision caveat as every hash key
    here, zero at oracle scales)."""
    corpus = with_dup_corpus(_t(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(shingle_hashes(corpus), threshold, df_cap)


def ngram_jaccard_pairs(sh: DataFrame, threshold: float = 0.5,
                        df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Exact-Jaccard pair scoring over a per-doc-distinct shingle table —
    the body of dedup_ngram_jaccard, shared with the cluster-resolution
    composition (operators/cluster.py). Keyed on the int64 portable hash
    (computed here if the caller fed shingle strings).

    Round 7 shape changes (guide §2.3/§2.4), output-identical (pinned in
    test_dedup_caps across thresholds):

    * the index is keyed on the int64 portable hash — the df-window, the
      self-join and the pair aggregation sort/shuffle/compare 8-byte ints,
      never shingle strings;
    * set SIZES ride ON the shingle rows (a doc_id window before the
      join) so the pair count feeds the threshold filter directly — the
      former shape sort-merge-joined the *weak-pair mass* (146.2M distinct
      pairs at sf1.0, of which 10,335 survive the threshold) against the
      sizes table TWICE after the aggregation; now the only post-join
      operator over that mass is the count itself. Two extra exchanges of
      the 3M-row shingle table buy removing two sorts of the 146M-row
      pair table — the right trade at every scale where weak pairs
      dominate (they always do on natural-language n-grams).

    (A prefix-filtered AllPairs/PPJoin candidate stage was measured and
    REJECTED on this workload: near-uniform document frequencies leave
    25.6M of the 146M pairs as candidates, and array-intersect
    verification costs more than counting — 48 s vs 28 s at sf1.0. The
    theorem-correct implementation lives in git history at this commit's
    parent chain for reuse on skewed-vocabulary corpora.)

    The hot-bucket guard is unchanged: shingles in more than ``df_cap``
    docs leave the universe before sizes and the join."""
    if "h" not in sh.columns:
        sh = sh.select(
            "doc_id", portable_hash(F.col("shingle")).alias("h"))
    else:
        sh = sh.select("doc_id", "h")
    wdf = Window.partitionBy("h")
    capped = (sh.withColumn("df", F.count("*").over(wdf))
              .where(F.col("df") <= df_cap).drop("df"))
    # post-cap set size per doc, attached to every shingle row (window,
    # not a broadcast: n_docs rows do not broadcast at corpus scale)
    withn = capped.withColumn(
        "n", F.count("*").over(Window.partitionBy("doc_id")))
    a, b = withn.alias("a"), withn.hint("merge").alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"),
                 F.col("a.n").alias("na"), F.col("b.n").alias("nb"))
        .agg(F.count("*").alias("shared"))
        .withColumn("jaccard", quantize(
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _jaccard_sql(threshold: float = 0.5, df_cap: int = NGRAM_DF_CAP) -> str:
    sh = SHINGLES_SQL.format(corpus=DUP_CORPUS_SQL)
    return f"""
    WITH sh0 AS ({sh}),
         sh AS (SELECT doc_id, shingle FROM sh0
                QUALIFY count(*) OVER (PARTITION BY shingle) <= {df_cap}),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                    FROM sh a JOIN sh b
                      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           {q_sql('shared / (na.n + nb.n - shared)', 4)} AS jaccard
    FROM shared
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE {q_sql('shared / (na.n + nb.n - shared)', 4)} >= {threshold}
    """


# register the oracle SQL strings (generated, exactly parallel to the Spark plans)
from ..registry import SQL  # noqa: E402

SQL["dedup_minhash_lsh"] = _minhash_sql()
SQL["dedup_simhash"] = _simhash_sql()
SQL["dedup_ngram_jaccard"] = _jaccard_sql()


# ---------------------------------------------------------------------------
# training-pipeline hygiene: benchmark decontamination + deterministic split
# ---------------------------------------------------------------------------

DECON_MIN_SHARED = 2  # docs sharing >= 2 distinct 3-grams with eval are out


@register(
    "pipeline_decontaminate",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
         eval_set AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
         csh AS ({SHINGLES_SQL.format(corpus="SELECT * FROM corpus")}),
         esh AS (SELECT DISTINCT shingle
                 FROM ({SHINGLES_SQL.format(corpus="SELECT * FROM eval_set")})),
         hits AS (SELECT c.doc_id, count(*) AS n_shared
                  FROM csh c JOIN esh e ON c.shingle = e.shingle
                  GROUP BY c.doc_id)
    SELECT doc_id, n_shared
    FROM hits WHERE n_shared >= {DECON_MIN_SHARED}
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing ≥
    DECON_MIN_SHARED distinct word 3-grams with the eval set (here the
    deterministic doc_id % 17 slice stands in for a benchmark suite) — the
    standard pre-training hygiene step next to dedup.

    Scale shape: the eval side is small by construction (benchmarks are
    thousands of documents, the corpus is 10^12), so its distinct shingle
    set is BROADCAST and the contamination join is map-side; the only
    shuffle is the per-doc count — which, like every shingle aggregation in
    this module, combines map-side first. The corpus text itself never
    shuffles."""
    from ..registry import spread_scan

    # byte-sized spread (not full fan-out): decontamination's per-byte
    # compute is one shingle explode + a broadcast probe — on a sub-MB
    # local table the exchange overhead outweighs it (measured 0.91 s →
    # 1.35 s at sf0.1 under full fan-out; the multi-MB sf1.0 table still
    # spreads core-wide: 5.1 s → 2.7 s)
    docs = spread_scan(_t(spark, sf_dir, "documents")
                       .select("doc_id", "text"), per_part_bytes=64 * 1024)
    corpus_sh = shingles(docs.where(F.col("doc_id") % 17 != 0))
    # dedupe=False: the per-doc distinct would be discarded by the
    # shingle-only distinct anyway — one exchange instead of two
    eval_sh = (shingles(docs.where(F.col("doc_id") % 17 == 0), dedupe=False)
               .select("shingle").distinct())
    return (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id").agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= DECON_MIN_SHARED)
        .select("doc_id", "n_shared")
    )


SPLIT_BUCKETS = 100
SPLIT_SALT = "split-v1"


@register(
    "pipeline_hash_split",
    f"""
    SELECT doc_id,
           {_sql_hash("CAST(doc_id AS VARCHAR)", SPLIT_SALT)} % {SPLIT_BUCKETS}
             AS bucket,
           CASE WHEN {_sql_hash("CAST(doc_id AS VARCHAR)", SPLIT_SALT)} % {SPLIT_BUCKETS} < 90 THEN 'train'
                WHEN {_sql_hash("CAST(doc_id AS VARCHAR)", SPLIT_SALT)} % {SPLIT_BUCKETS} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def pipeline_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by salted portable hash of the
    document key (90/5/5): stable under corpus growth and re-runs (a doc's
    split never depends on what else is in the corpus), reproducible across
    engines — the map-only assignment every training pipeline needs before
    sharding. Both hash operands are non-negative (15 hex digits < 2^60),
    so plain % is portable; change SPLIT_SALT to draw a fresh split."""
    d = _t(spark, sf_dir, "documents")
    bucket = (portable_hash(F.col("doc_id").cast("string"), SPLIT_SALT)
              % SPLIT_BUCKETS)
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test").alias("split"),
    )
