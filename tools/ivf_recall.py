"""Measure ANN recall@k of the IVF variants (and banded LSH) against exact
brute-force cosine top-k on a driver corpus.

Exact top-k comes from DuckDB (list_cosine_similarity all-pairs over the
query slice — the certified oracle kernel); the ANN results come from the
production Spark plans. recall@k = |ANN∩exact| / |exact| averaged over
queries. Usage:

    python tools/ivf_recall.py [sf_dir]   # default /root/testdata/sf0.1
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from ch_pdf_parse_spark.session import get_spark  # noqa: E402


def exact_topk(sf_dir: str, k: int) -> dict[int, set[int]]:
    con = duckdb.connect()
    rows = con.execute(f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM read_parquet('{sf_dir}/embeddings.parquet')),
             q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 97 = 0),
             scored AS (SELECT q.query_id, e.vec_id AS nid,
                               list_cosine_similarity(q.qv, e.v) AS c
                        FROM q JOIN e ON e.vec_id <> q.query_id),
             ranked AS (SELECT query_id, nid,
                               ROW_NUMBER() OVER (PARTITION BY query_id
                                                  ORDER BY c DESC, nid) AS rk
                        FROM scored)
        SELECT query_id, nid FROM ranked WHERE rk <= {k}
        """).fetchall()
    out: dict[int, set[int]] = {}
    for qid, nid in rows:
        out.setdefault(qid, set()).add(nid)
    return out


def recall(got_rows, want: dict[int, set[int]]) -> float:
    got: dict[int, set[int]] = {}
    for r in got_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    fracs = [len(got.get(q, set()) & w) / len(w) for q, w in want.items() if w]
    # None, not NaN: this feeds json.dumps on the bench stdout contract and
    # bare NaN is invalid JSON (RFC 8259)
    return round(sum(fracs) / len(fracs), 4) if fracs else None


def clustered_corpus(n: int = 1200, n_clusters: int = 16, dim: int = 64,
                     spread: float = 0.25) -> str:
    """Deterministic CLUSTERED embeddings table — the regime production
    embeddings live in and the ±1 codebook can't exploit: k-means cells then
    follow the density and most true neighbors share the query's top cell."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = "/tmp/ch_pdf_parse_clustered"
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1, (n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = np.empty((n, dim))
    for i in range(n):
        c = centers[i % n_clusters]
        v = c + rng.normal(0, spread / np.sqrt(dim), dim)
        X[i] = v / np.linalg.norm(v)
    pq.write_table(
        pa.table({"vec_id": pa.array(range(n), pa.int64()),
                  "embedding": pa.array([list(map(float, r)) for r in
                                         X.astype(np.float32)],
                                        pa.list_(pa.float32()))}),
        os.path.join(out, "embeddings.parquet"))
    return out


def main() -> int:
    from ch_pdf_parse_spark.operators.similarity import (
        IVF_TOPK, ivf_kmeans_point, sim_ann_ivf, sim_ann_lsh)

    if len(sys.argv) > 1 and sys.argv[1] == "--clustered":
        sf_dir = clustered_corpus()
    else:
        sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    want = exact_topk(sf_dir, IVF_TOPK)
    spark = get_spark("ivf-recall", shuffle_partitions=16)
    out = {"sf_dir": sf_dir, "k": IVF_TOPK, "n_queries": len(want)}
    for name, fn in (("ivf_pm1", sim_ann_ivf),
                     ("ivf_kmeans", ivf_kmeans_point),
                     ("lsh", sim_ann_lsh)):
        out[f"recall@{IVF_TOPK}_{name}"] = recall(fn(spark, sf_dir).collect(),
                                                  want)
    # recall/cost curve: nprobe sweep for the k-means codebook (candidates
    # scanned scale ~ nprobe/ncells of the corpus)
    for np_ in (4, 8):
        rows = ivf_kmeans_point(spark, sf_dir, n_probe=np_).collect()
        out[f"recall@{IVF_TOPK}_ivf_kmeans_nprobe{np_}"] = recall(rows, want)
    spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
