"""Connected-components cluster resolution (operators/cluster.py)."""

import random

import pytest
from pyspark.sql import functions as F

from ch_pdf_parse_spark.operators.cluster import resolve_clusters


def _uf_components(n_ids, pairs):
    """Brute-force union-find oracle: id -> min id in its component."""
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


def _run(spark, ids, pairs, **kw):
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id: long")
    if pairs:
        pdf = spark.createDataFrame(pairs, "doc_a: long, doc_b: long")
    else:
        pdf = spark.createDataFrame([], "doc_a: long, doc_b: long")
    out = resolve_clusters(nodes, pdf, **kw).collect()
    return {r.doc_id: (r.cluster_id, r.is_keeper) for r in out}


def test_matches_union_find_on_random_graph(spark):
    rng = random.Random(4)
    ids = list(range(200))
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    want = _uf_components(ids, pairs)
    got = _run(spark, ids, pairs)
    assert len(got) == len(ids)
    for i in ids:
        assert got[i] == (want[i], i == want[i]), i


def test_path_graph_converges_logarithmically(spark):
    """A 128-node path is the diameter worst case: plain label relaxation
    needs 127 rounds, the large-star/small-star rewrite must stay
    logarithmic. The max_iters=12 bound (~1.7·log2 n) doubles as the
    regression pin — if a change degrades convergence to linear, this
    raises RuntimeError."""
    n = 128
    ids = list(range(n))
    pairs = [(i, i + 1) for i in range(n - 1)]
    got = _run(spark, ids, pairs, max_iters=12)
    assert all(got[i] == (0, i == 0) for i in ids)


def test_non_convergence_raises(spark):
    ids = list(range(16))
    pairs = [(i, i + 1) for i in range(15)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, ids, pairs, max_iters=1)


def test_singletons_and_empty_pairs(spark):
    got = _run(spark, [5, 9], [])
    assert got == {5: (5, True), 9: (9, True)}


def test_null_doc_id_passes_through_as_null(spark):
    nodes = spark.createDataFrame([(1,), (2,), (None,)], "doc_id: long")
    pairs = spark.createDataFrame([(1, 2)], "doc_a: long, doc_b: long")
    rows = {(r.doc_id, r.cluster_id, r.is_keeper)
            for r in resolve_clusters(nodes, pairs).collect()}
    assert rows == {(1, 1, True), (2, 1, False), (None, None, None)}


def test_keeper_semantics_on_dup_corpus(spark):
    """On the shared dup corpus every injected near-dup (doc_id+100000) must
    land in its source doc's cluster with the source as keeper — chains
    resolved transitively, exactly one keeper per cluster."""
    from ch_pdf_parse_spark.operators.cluster import (
        candidate_pairs_union, with_dup_corpus)
    from ch_pdf_parse_spark.operators.dedup import (
        minhash_from_text, shingle_hashes)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = with_dup_corpus(docs)
    # own the shingle-hash persist lifecycle: a leaked cache entry
    # substitutes into OTHER tests' plans (cache substitution defeated the
    # simhash exchange-reuse pin in test_plans when this test ran first)
    shd = shingle_hashes(corpus).persist()
    clusters = resolve_clusters(
        corpus.select("doc_id").distinct(),
        candidate_pairs_union(shd, minhash_from_text(corpus))).collect()
    shd.unpersist()
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keepers = [m for m in members if m.is_keeper]
        assert len(keepers) == 1
        assert keepers[0].doc_id == cid == min(m.doc_id for m in members)
    injected = [r for r in clusters if r.doc_id >= 100000]
    assert injected, "dup corpus must actually inject near-dups"
    cluster_of = {r.doc_id: r.cluster_id for r in clusters}
    # An injected dup should land in the SAME cluster as its source doc (not
    # necessarily one NAMED after it — organic near-dup pairs in the corpus,
    # e.g. docs 144~161 at sf0.001, merge components). Very short sources are
    # the legitimate exception: dropping 5 of ~10 words leaves too little
    # shingle overlap for ANY detector, so the dup stays a singleton keeper
    # (exactly 1/72 at sf0.001 — doc 490).
    matched = [r for r in injected
               if r.cluster_id == cluster_of[r.doc_id - 100000]]
    assert len(matched) >= 0.95 * len(injected), (len(matched), len(injected))
    for r in matched:
        assert not r.is_keeper
