"""Connected-components cluster resolution (operators/cluster.py).

``resolve_clusters`` has two routes, picked by the symmetric edge count:
union-find on the driver up to ``CC_DRIVER_EDGES``, large-star/small-star
in Spark above it. The label tests run each route by setting the cap to
its default and to -1 (below any edge count, the empty set included)."""

import random

import pytest

from ch_pdf_parse_spark.operators import cluster as cl
from ch_pdf_parse_spark.operators.cluster import resolve_clusters

SF_DIR = "/root/testdata/sf0.001"
ROUTES = (("driver", cl.CC_DRIVER_EDGES), ("spark", -1))


def _each_route(monkeypatch):
    """Yield each route's name with ``CC_DRIVER_EDGES`` set to force it,
    then check that the driver's union-find ran on that route only."""
    for name, cap in ROUTES:
        calls = []
        union_find = cl._union_find
        with monkeypatch.context() as m:
            m.setattr(cl, "CC_DRIVER_EDGES", cap)
            m.setattr(cl, "_union_find",
                      lambda e: calls.append(e) or union_find(e))
            yield name
        assert bool(calls) == (name == "driver"), name


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


def _run(spark, ids, pairs, id_type="long", **kw):
    nodes = spark.createDataFrame([(i,) for i in ids], f"doc_id: {id_type}")
    pdf = spark.createDataFrame(pairs,
                                f"doc_a: {id_type}, doc_b: {id_type}")
    out = resolve_clusters(nodes, pdf, **kw).collect()
    return {r.doc_id: (r.cluster_id, r.is_keeper) for r in out}


def test_matches_union_find_on_random_graph(spark, monkeypatch):
    rng = random.Random(4)
    ids = list(range(200))
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    want = _uf_components(ids, pairs)
    for route in _each_route(monkeypatch):
        got = _run(spark, ids, pairs)
        assert len(got) == len(ids), route
        for i in ids:
            assert got[i] == (want[i], i == want[i]), (route, i)


def test_path_graph_converges_logarithmically(spark, monkeypatch):
    """A 128-node path is the diameter worst case: plain label relaxation
    needs 127 rounds, the large-star/small-star rewrite must stay
    logarithmic. The max_iters=12 bound (~1.7·log2 n) doubles as the
    regression pin of the Spark route — if a change degrades convergence to
    linear, this raises RuntimeError."""
    n = 128
    ids = list(range(n))
    pairs = [(i, i + 1) for i in range(n - 1)]
    for route in _each_route(monkeypatch):
        got = _run(spark, ids, pairs, max_iters=12)
        assert all(got[i] == (0, i == 0) for i in ids), route


def test_non_convergence_raises(spark, monkeypatch):
    monkeypatch.setattr(cl, "CC_DRIVER_EDGES", dict(ROUTES)["spark"])
    ids = list(range(16))
    pairs = [(i, i + 1) for i in range(15)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, ids, pairs, max_iters=1)


def test_singletons_and_empty_pairs(spark, monkeypatch):
    for route in _each_route(monkeypatch):
        got = _run(spark, [5, 9], [])
        assert got == {5: (5, True), 9: (9, True)}, route


def test_null_doc_id_passes_through_as_null(spark, monkeypatch):
    nodes = spark.createDataFrame([(1,), (2,), (None,)], "doc_id: long")
    pairs = spark.createDataFrame([(1, 2)], "doc_a: long, doc_b: long")
    for route in _each_route(monkeypatch):
        rows = {(r.doc_id, r.cluster_id, r.is_keeper)
                for r in resolve_clusters(nodes, pairs).collect()}
        assert rows == {(1, 1, True), (2, 1, False), (None, None, None)}, \
            route


def test_string_ids_label_alike_on_both_routes(spark, monkeypatch):
    """String doc_ids, non-ASCII included: the driver's min (Python's
    code-point order) must pick the same id as Spark's (UTF-8 byte order).
    U+FF5E and U+1F600 are ordered the other way in UTF-16, so a
    UTF-16 comparison anywhere would split the routes."""
    ids = ["b", "Z", "é", "e\u0301", "日本", "\uff5e", "\U0001f600", "ß",
           "a b", "", "zz", "Ω"]
    pairs = [("\U0001f600", "\uff5e"), ("日本", "Ω"), ("é", "ß"),
             ("ß", "e\u0301"), ("Z", "zz"), ("zz", "b"), ("", "a b")]
    labels = {}
    for route in _each_route(monkeypatch):
        labels[route] = _run(spark, ids, pairs, id_type="string")
    assert labels["driver"] == labels["spark"]
    want = _uf_components(ids, pairs)
    assert labels["driver"] == {i: (want[i], i == want[i]) for i in ids}
    assert labels["driver"]["\U0001f600"] == ("\uff5e", False)


def test_dedup_clusters_matches_duckdb_on_both_routes(spark, monkeypatch):
    """``dedup_clusters`` equals the DuckDB recursive CTE row for row on
    sf0.001, through either route."""
    import duckdb

    from ch_pdf_parse_spark.operators.cluster import dedup_clusters
    from ch_pdf_parse_spark.registry import SQL

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    want = sorted(con.execute(SQL["dedup_clusters"]).fetchall())
    con.close()
    assert any(not k for _, _, k in want)  # some doc is clustered away
    for route in _each_route(monkeypatch):
        got = sorted(tuple(r) for r in dedup_clusters(spark, SF_DIR).collect())
        assert got == want, route


def test_neardup_queries_leave_no_cache_entry(spark):
    """The shared shingle table is a checkpoint, not a cache entry: a
    leaked entry would be substituted into other queries' plans and defeat
    their exchange reuse."""
    spark.catalog.clearCache()  # entries other tests' operators hold
    cl.dedup_clusters(spark, SF_DIR).collect()
    cl.pipeline_neardup_corpus(spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_keeper_semantics_on_dup_corpus(spark):
    """On the shared dup corpus every injected near-dup (doc_id+100000) must
    land in its source doc's cluster with the source as keeper — chains
    resolved transitively, exactly one keeper per cluster."""
    clusters = cl._neardup_clusters(spark, SF_DIR)[1].collect()
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
