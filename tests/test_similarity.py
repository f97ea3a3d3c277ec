"""Similarity-operator semantics tests.

The LSH-bucketed near-dup operator must return EXACTLY the pairs the
all-pairs brute-force twin returns on the test corpora — total recall at
these scales is the contract the driver's all-pairs DuckDB oracle enforces
(the brute-force Spark twin here is the second, engine-internal oracle; it
is O(n²) and exists only for tests)."""

from ch_pdf_parse_spark.operators.similarity import (
    dedup_embedding_cosine,
    dedup_embedding_cosine_bruteforce,
)

SF_DIR = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r.vec_a, r.vec_b, r.cos) for r in df.collect()}


def test_lsh_dedup_equals_bruteforce(spark):
    got = _pairs(dedup_embedding_cosine(spark, SF_DIR))
    want = _pairs(dedup_embedding_cosine_bruteforce(spark, SF_DIR))
    assert len(want) > 0
    assert got == want


def _sim_topk_pairjoin(spark, sf_dir):
    """The pre-r7 sim_topk_bruteforce formulation (BroadcastNestedLoopJoin
    materializing every (corpus, query) pair and scoring it with the
    per-pair pandas cosine) — kept as the semantics oracle for the r7
    matmul rewrite: same scores, same ranks, same quantized output."""
    from pyspark.sql import Window, functions as F

    from ch_pdf_parse_spark.operators.similarity import (
        _SPARK_D, cosine, quantize)
    from ch_pdf_parse_spark.registry import _t

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_SPARK_D.format(v="embedding")).alias("v"))
    q = e.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                cosine(F.col("qv"), F.col("v")).alias("c"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank",
                quantize("c", 3).alias("cos"))
    )


def test_sim_topk_matmul_equals_pairjoin(spark):
    """The r7 broadcast-matrix mapInArrow scorer must emit row-identical
    output (ids, ranks, quantized cosines) to the old pair-join plan."""
    from ch_pdf_parse_spark.operators.similarity import sim_topk_bruteforce

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(map(tuple, sim_topk_bruteforce(spark, sf_dir).collect()))
        want = sorted(map(tuple, _sim_topk_pairjoin(spark, sf_dir).collect()))
        assert len(want) > 0
        assert got == want


def test_dedup_bucket_matmul_equals_pairjoin(spark):
    """The r7 bucket-local matmul scorer must emit the exact same
    (id_l, id_r, max c) set as the old bucket self-join + per-pair pandas
    cosine, at full float64 precision and after the 2-dp quantization, on
    both test scales (incl. the 0.5×-scaled injected dups)."""
    from pyspark.sql import functions as F

    from ch_pdf_parse_spark.operators.similarity import (
        _PLANES_DEDUP_NP, _banded_pair_scores, _bucket_pair_scores,
        _dedup_corpus, _lsh_buckets, quantize)

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        buckets = _lsh_buckets(_dedup_corpus(spark, sf_dir), _PLANES_DEDUP_NP)
        old = _banded_pair_scores(buckets, buckets, lambda a, b: a < b,
                                  min_score=0.95)
        want = {(r.id_l, r.id_r, r.q) for r in old.select(
            "id_l", "id_r", quantize("c", 2).alias("q")).collect()}
        assert len(want) > 0
        # default (single-block at these bucket widths) AND a forced tiny
        # block so the multi-block loop — the path wide production buckets
        # take — is pinned too
        for block in (None, 16):
            new = _bucket_pair_scores(buckets, min_score=0.95, block=block)
            got = {(r.id_l, r.id_r, r.q) for r in new.select(
                "id_l", "id_r", quantize("c", 2).alias("q")).collect()}
            assert got == want, block


def test_bucket_matmul_edge_rows(spark):
    """NULL vec_id rows pair with nothing (the old `<` predicate semantics),
    duplicate vec_ids never pair with each other, and sub-threshold buckets
    emit nothing."""
    from pyspark.sql import types as T

    from ch_pdf_parse_spark.operators.similarity import _bucket_pair_scores

    rows = [
        # one bucket: two colinear vectors (cos=1), a NULL id colinear row,
        # and a duplicate id pair (colinear — must NOT pair with itself)
        (None, [1.0, 0.0], 0, 3),
        (7, [2.0, 0.0], 0, 3),
        (9, [4.0, 0.0], 0, 3),
        (9, [8.0, 0.0], 0, 3),
        # another bucket: orthogonal vectors only -> no pairs
        (1, [1.0, 0.0], 1, 5),
        (2, [0.0, 1.0], 1, 5),
    ]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
        T.StructField("band", T.IntegerType()),
        T.StructField("bkey", T.IntegerType()),
    ])
    buckets = spark.createDataFrame(rows, schema)
    got = {(r.id_l, r.id_r, round(r.c, 9))
           for r in _bucket_pair_scores(buckets, 0.95).collect()}
    assert got == {(7, 9, 1.0)}


def test_lsh_sign_margins_dwarf_float_error(spark):
    """The module-docstring determinism argument is a MARGIN argument: sign
    bits agree across engines because no corpus vector sits within float64
    accumulation distance (~1e-13) of any hyperplane. Pin the minimum |dot|
    over ALL N_PLANES_DEDUP planes (the 12 ANN planes are the prefix) at
    both test scales, including the 0.5×-scaled injected dups (scaling a
    vector scales its plane dots, so their margin is exactly half)."""
    import numpy as np

    from ch_pdf_parse_spark.operators.similarity import _PLANES_DEDUP_NP

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = spark.read.parquet(sf_dir + "/embeddings.parquet").collect()
        A = np.array([list(r.embedding) for r in emb], dtype=np.float64)
        margin = float(np.min(np.abs(A @ _PLANES_DEDUP_NP.T)))
        assert margin / 2 > 1e-6, (sf_dir, margin)


def test_ivf_cell_ranking_margins_dwarf_float_error(spark):
    """The IVF cell ranking is engine-portable because every ranking decision
    sits far above float64 accumulation error (~1e-13 for 64-term dots): pin
    the minimum |dot gap| at the probe boundary (rank N_PROBE vs N_PROBE+1)
    and at the assignment boundary (rank 1 vs 2) on the test corpus."""
    import numpy as np

    from ch_pdf_parse_spark.operators.similarity import _CENTROIDS_NP

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet").collect()
    A = np.array([list(r.embedding) for r in emb], dtype=np.float64)
    dots = np.sort(A @ _CENTROIDS_NP.T, axis=1)[:, ::-1]
    assign_margin = float(np.min(dots[:, 0] - dots[:, 1]))
    probe_margin = float(np.min(dots[:, 1] - dots[:, 2]))
    assert min(assign_margin, probe_margin) > 1e-6, (assign_margin, probe_margin)


def test_kmeans_codebook_deterministic_and_oracle_aligned():
    """The sampled codebook is a pure function of the parquet bytes, and the
    SQL literals parse back to the exact doubles the Spark UDF closes over
    (repr round-trip) — the bit-equality the dynamic oracle rests on."""
    import numpy as np

    from ch_pdf_parse_spark.operators.similarity import (
        N_CELLS, DIM, _CODEBOOK_CACHE, _kmeans_codebook)

    sf = "/root/testdata/sf0.01"
    a, b = _kmeans_codebook(sf), _kmeans_codebook(sf)
    assert a.shape == (N_CELLS, DIM)
    assert np.array_equal(a, b)
    assert all(float(repr(float(x))) == x for x in a.ravel())
    # pin the cache-key contract (round-3 advice fix): keys carry the
    # embeddings file's (path, size, mtime_ns) so an in-place rewrite can
    # never serve a stale codebook
    import os as _os

    from ch_pdf_parse_spark.operators.similarity import _codebook

    _codebook(sf)
    st = _os.stat(_os.path.join(sf, "embeddings.parquet"))
    key = (_os.path.join(sf, "embeddings.parquet"), st.st_size, st.st_mtime_ns)
    assert key in _CODEBOOK_CACHE


def test_kmeans_codebook_margins_every_testdata_scale():
    """Round-3 advice (medium): the ±1-codebook margin test above does not
    cover the LEARNED codebooks the dynamic oracle actually compares against.
    Pin, for every /root/testdata scale, that the k-means cell ranking's
    rank-1/2 gap and probe-boundary (N_PROBE vs N_PROBE+1) gap sit far above
    float64 accumulation error (~1e-13) — so a vector near a learned cell
    boundary cannot flip between numpy matmul and DuckDB list_dot_product.
    Measured floor at HEAD: 8.8e-6 (sf0.1)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from ch_pdf_parse_spark.operators.similarity import (
        N_PROBE, _kmeans_codebook)

    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        if not os.path.exists(os.path.join(d, "embeddings.parquet")):
            continue
        C = _kmeans_codebook(d)
        tbl = pq.read_table(os.path.join(d, "embeddings.parquet"),
                            columns=["vec_id", "embedding"])
        X = np.array([v for i, v in zip(tbl.column("vec_id").to_pylist(),
                                        tbl.column("embedding").to_pylist())
                      if i is not None and v is not None], dtype=np.float64)
        scores = X @ C.T - (np.linalg.norm(C, axis=1) ** 2 / 2.0)
        s = np.sort(scores, axis=1)[:, ::-1]
        assign_margin = float(np.min(s[:, 0] - s[:, 1]))
        probe_margin = float(np.min(s[:, N_PROBE - 1] - s[:, N_PROBE]))
        # the N_PROBE_HI probe boundary (rank 4 vs 5) of sim_ann_ivf_kmeans
        np4_margin = float(np.min(s[:, 3] - s[:, 4]))
        assert min(assign_margin, probe_margin, np4_margin) > 1e-6, (
            sf, assign_margin, probe_margin, np4_margin)
        checked += 1
    assert checked >= 2  # the suite must actually have seen the corpora


def test_kmeans_codebook_empty_corpus_falls_back(tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ch_pdf_parse_spark.operators.similarity import (
        _CENTROIDS_NP, _kmeans_codebook)

    pq.write_table(
        pa.table({"vec_id": pa.array([], pa.int64()),
                  "embedding": pa.array([], pa.list_(pa.float32()))}),
        str(tmp_path / "embeddings.parquet"))
    assert np.array_equal(_kmeans_codebook(str(tmp_path)), _CENTROIDS_NP)


def test_codebook_sample_spark_equals_arrow_and_is_bounded(spark, monkeypatch):
    """r5 (round-4 verdict #2): the codebook trains on a sample COLLECTED via
    a Spark scan (never a driver-side full-table read); the no-session oracle
    context streams Arrow batches instead. Both branches must deliver
    identical rows, and the collected row count must respect the cap (the
    plan bounds it per partition: TakeOrderedAndProject, no global sort)."""
    import os

    import numpy as np

    from ch_pdf_parse_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.01"
    path = os.path.join(sf, "embeddings.parquet")

    ids_s, x_s = sim._sample_rows(sf)          # active session → Spark path
    ids_a, x_a = sim._sample_rows_arrow(path)  # oracle path
    assert len(ids_s) > 0
    assert np.array_equal(ids_s, ids_a)
    assert np.array_equal(x_s, x_a)
    assert len(ids_s) <= sim._KMEANS_SAMPLE_MAX

    # the bound is enforced by the PLAN, not by post-collect truncation: with
    # a tiny cap the Spark path collects exactly cap rows, still equal to the
    # Arrow twin's deterministic prefix
    monkeypatch.setattr(sim, "_KMEANS_SAMPLE_MAX", 20)
    ids_c, x_c = sim._sample_rows(sf)
    assert len(ids_c) == 20
    assert np.array_equal(ids_c, ids_s[:20])
    assert np.array_equal(x_c, x_s[:20])
    plan = sim._sample_df(spark, path)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "TakeOrderedAndProject" in plan, plan


def test_ivf_registrations_match_duckdb(spark):
    """The IVF registrations equal their DuckDB SQL row for row on sf0.001:
    the same row count, columns, canonical Arrow schema and order-insensitive
    value hash that tools/check_queries.py compares. ``sim_ann_methods``
    carries the ±1-codebook IVF branch (static SQL), ``sim_ann_ivf_kmeans``
    the learned codebook at both operating points (SQL generated from the
    corpus)."""
    import duckdb

    from ch_pdf_parse_spark.registry import DYNAMIC_SQL, SQL, queries
    from tools.check_queries import (
        canon_schema, duck_fetch, spark_arrow_schema, value_hash)

    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/embeddings.parquet')")
    qs = queries()
    for name, sql in (
            ("sim_ann_methods", SQL["sim_ann_methods"]),
            ("sim_ann_ivf_kmeans", DYNAMIC_SQL["sim_ann_ivf_kmeans"](SF_DIR))):
        sdf = qs[name](spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        dcols, drows, dschema = duck_fetch(con, sql)
        assert len(srows) == len(drows) > 0, name
        assert sorted(scols) == sorted(dcols), name
        assert canon_schema(spark_arrow_schema(sdf)) == dschema, name
        assert value_hash(scols, srows) == value_hash(dcols, drows), name
