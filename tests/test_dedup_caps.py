"""Hot-bucket guards for the candidate-join dedups (round-3 VERDICT item #4):
buckets wider than the cap must never feed the self-join, and capped semantics
must match a pure-Python oracle computed over the same reduced universe."""

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ch_pdf_parse_spark.operators import dedup


def _write_docs(tmp_path, texts):
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }),
        str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _shingle_set(text, n=3):
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _capped_jaccard_oracle(texts, threshold, df_cap):
    """Pure-Python twin of dedup_ngram_jaccard's capped semantics, including
    with_dup_corpus's injected near-duplicates."""
    docs = {i + 1: t for i, t in enumerate(texts)}
    for i, t in list(docs.items()):
        if i % 7 == 0:
            toks = t.split(" ")
            docs[i + 100000] = " ".join(toks[:max(len(toks) - 5, 1)])
    sets = {d: _shingle_set(t) for d, t in docs.items()}
    df = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    sets = {d: {sh for sh in s if df[sh] <= df_cap} for d, s in sets.items()}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter and union and inter / union >= threshold:
            out[(a, b)] = round(inter / union, 4)
    return out


# one stop-shingle "x y z" shared by EVERY doc; docs 1/2 are real near-dups
TEXTS = [
    "x y z alpha beta gamma delta epsilon zeta eta theta",
    "x y z alpha beta gamma delta epsilon zeta eta iota",
    "x y z completely different words entirely here now one",
    "x y z unrelated content again with other tokens two",
    "x y z more filler prose that matches nothing else three",
    "x y z final row of the hostile corpus block four",
    "x y z seventh doc so with_dup_corpus injects a near dup",
]


def test_ngram_jaccard_df_cap_semantics(spark, tmp_path):
    sf_dir = _write_docs(tmp_path, TEXTS)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.dedup_ngram_jaccard(
               spark, sf_dir, threshold=0.2, df_cap=3).collect()}
    want = _capped_jaccard_oracle(TEXTS, 0.2, 3)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-4)
    # the stop-shingle ties every doc pair uncapped; capped, only real overlap
    assert (1, 2) in got


def test_ngram_jaccard_cap_inert_at_fixture_scale(spark, tmp_path):
    """Default cap far above any sf-scale document frequency: capped output ==
    uncapped output, so the driver hash is unchanged by the guard."""
    sf_dir = _write_docs(tmp_path, TEXTS)
    capped = set(map(tuple, dedup.dedup_ngram_jaccard(
        spark, sf_dir, threshold=0.2).collect()))
    uncapped = set(map(tuple, dedup.dedup_ngram_jaccard(
        spark, sf_dir, threshold=0.2, df_cap=1 << 40).collect()))
    assert capped == uncapped and capped


def test_simhash_bucket_cap_drops_hot_bucket(spark, tmp_path):
    sf_dir = _write_docs(tmp_path, TEXTS)
    corpus = dedup.with_dup_corpus(
        spark.read.parquet(str(tmp_path / "documents.parquet")))
    sim = dedup.simhash(dedup.shingles(corpus))
    n_docs = sim.count()
    # cap below any possible pair: every candidate needs a bucket of width
    # >= 2, so a cap of 1 must yield zero pairs -- "no bucket wider than CAP
    # feeds the join" pinned behaviorally
    assert dedup.simhash_pairs(sim, max_hamming=60, bucket_cap=1).count() == 0
    # cap >= corpus size cannot drop anything: identical to uncapped
    wide = dedup.simhash_pairs(sim, max_hamming=10, bucket_cap=n_docs * 4)
    deflt = dedup.simhash_pairs(sim, max_hamming=10)
    assert set(map(tuple, wide.collect())) == set(map(tuple, deflt.collect()))


def test_minhash_bucket_cap(spark, tmp_path):
    """Identical docs share every band signature; with bucket_cap=1 no pair
    can form, and the default cap changes nothing at fixture scale."""
    sf_dir = _write_docs(tmp_path, TEXTS)
    corpus = dedup.with_dup_corpus(
        spark.read.parquet(str(tmp_path / "documents.parquet")))
    sig = dedup.minhash_signatures(dedup.shingles(corpus))
    assert dedup.lsh_candidate_pairs(sig, bucket_cap=1).count() == 0
    deflt = set(map(tuple, dedup.lsh_candidate_pairs(sig).collect()))
    wide = set(map(tuple, dedup.lsh_candidate_pairs(
        sig, bucket_cap=1 << 30).collect()))
    assert deflt == wide and deflt


def test_dup_corpus_is_one_wave(spark):
    """``with_dup_corpus`` spreads the docs ∪ dups union, not the docs
    before it: over a one-file table the corpus has one partition per core,
    so the Python minhash kernel runs one wave of tasks, not two."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = spark.sparkContext.defaultParallelism
    assert dedup.with_dup_corpus(docs).rdd.getNumPartitions() <= max(2, n)


def test_minhash_from_text_equals_expression_kernel(spark):
    """The r7 Python md5 minhash kernel must produce exactly the signatures
    of the Catalyst-expression aggregation (salted portable hashes are
    bit-identical), including null-doc_id group merging and short/null
    texts — on real testdata AND the dup corpus."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = spark.read.parquet(sf + "/documents.parquet")
        corpus = dedup.with_dup_corpus(docs)
        got = dedup.minhash_from_text(corpus)
        want = dedup.minhash_signatures(
            dedup.shingles(corpus, dedupe=False))
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
        assert got.count() == want.count() > 0


def test_minhash_from_text_edge_rows(spark):
    """Null text, empty text, <3 words, multi-space runs, unicode, and
    duplicate/null doc_ids all agree with the expression kernel."""
    rows = [(0, "alpha beta gamma delta"), (0, "alpha beta gamma"),
            (None, "x y z w"), (None, "x y z"), (1, None), (2, ""),
            (3, "one two"), (4, "a  b  c d"), (5, "汉 字 测 试 漢字"),
            (6, " lead trail "), (7, "a b c a b c a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.minhash_from_text(df)
    want = dedup.minhash_signatures(dedup.shingles(df, dedupe=False))
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_shingle_hashes_equals_hashed_distinct(spark):
    """shingle_hashes (int64 distinct) must equal hashing the string-
    distinct table — the exchange narrowing is a plan change only."""
    from pyspark.sql import functions as F

    for sf in ("/root/testdata/sf0.001",):
        corpus = dedup.with_dup_corpus(
            spark.read.parquet(sf + "/documents.parquet"))
        got = dedup.shingle_hashes(corpus)
        want = dedup.shingles(corpus, dedupe=True).select(
            "doc_id", dedup.portable_hash(F.col("shingle")).alias("h"))
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_simhash_equals_python_majority_vote(spark):
    """``simhash`` over the shingle hashes of the sf0.001 dup corpus equals
    a pure-Python simhash of the same (doc_id, h) rows: bit j is set iff
    the sum of +1 (bit j set) and -1 (bit j clear) over the doc's hashes
    is >= 0."""
    corpus = dedup.with_dup_corpus(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    shd = dedup.shingle_hashes(corpus)
    sums = {}
    for doc_id, h in shd.collect():
        acc = sums.setdefault(doc_id, [0] * dedup.SIMHASH_BITS)
        for j in range(dedup.SIMHASH_BITS):
            acc[j] += 1 if (h >> j) & 1 else -1
    want = {d: sum(1 << j for j, v in enumerate(acc) if v >= 0)
            for d, acc in sums.items()}
    got = dict(dedup.simhash(shd).collect())
    assert len(want) > 100
    assert got == want


def test_jaccard_prefix_filter_equals_naive(spark):
    """The r7 prefix-filtered jaccard (AllPairs candidate generation +
    array_intersect verification) must emit exactly the pairs and scores
    of the naive inverted-index formulation, across thresholds."""
    from pyspark.sql import Window, functions as F

    from ch_pdf_parse_spark.registry import quantize

    def naive(sh, threshold, df_cap=dedup.NGRAM_DF_CAP):
        sh = sh.select("doc_id",
                       dedup.portable_hash(F.col("shingle")).alias("h"))
        wdf = Window.partitionBy("h")
        sh = (sh.withColumn("df", F.count("*").over(wdf))
              .where(F.col("df") <= df_cap).drop("df"))
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        a, b = sh.alias("a"), sh.alias("b")
        shared = (
            a.join(b, (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("shared")))
        return (
            shared.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                     F.col("n").alias("na")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("n").alias("nb")), "doc_b")
            .withColumn("jaccard", quantize(
                F.col("shared")
                / (F.col("na") + F.col("nb") - F.col("shared")), 4))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        corpus = dedup.with_dup_corpus(
            spark.read.parquet(sf + "/documents.parquet"))
        sh = dedup.shingles(corpus, dedupe=True)
        for t in (0.2, 0.5, 0.8):
            got = sorted(map(tuple,
                             dedup.ngram_jaccard_pairs(sh, t).collect()))
            want = sorted(map(tuple, naive(sh, t).collect()))
            assert got == want, (sf, t, len(got), len(want))
        assert got  # highest threshold still finds the injected dups
