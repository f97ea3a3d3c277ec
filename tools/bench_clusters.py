"""Scale evidence for connected-components cluster resolution, on both of
``resolve_clusters``' routes.

The driver corpus exercises tiny components (pairs/stars). This synthesizes a
deliberately hostile graph — a mix of random pair edges, heavy star
components (one hub, many leaves: the mass-duplication shape), and LONG
CHAINS (the diameter worst case that breaks plain relaxation) — then runs
``resolve_clusters`` twice: once forced onto the driver's union-find, once
forced onto Spark's large-star/small-star loop (``CC_DRIVER_EDGES`` set to
0). It reports each route's wall, the driver's peak-RSS growth, the
theoretical round bound, and checks ground truth per component class by
construction (chain/star members must label to their component min) and
that the two routes' labels are equal.

Usage: python tools/bench_clusters.py [n_nodes] [chain_len]  # default 200000 512
Prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS  # noqa: E402
from ch_pdf_parse_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    chain_len = int(sys.argv[2]) if len(sys.argv) > 2 else 512

    from pyspark.sql import functions as F

    from ch_pdf_parse_spark.operators import cluster as cl

    spark = get_spark("bench-clusters", cores=CPUS, shuffle_partitions=CPUS)
    try:
        # nodes 0..n-1; deterministic edges, three regimes by id band:
        #   [0, n/4)        chains of chain_len consecutive ids
        #   [n/4, n/2)      stars of 1000 leaves on a hub (skew shape)
        #   [n/2, n)        random pairs via a portable mix
        # band boundaries aligned to their own strides so no component can
        # alias across bands for ANY n (round-4 review: id - id % 1000 put
        # the first star hub inside the chain band when n//4 wasn't a
        # multiple of 1000)
        n4 = (n // 4 // chain_len) * chain_len          # chain band end
        n2 = n4 + ((n // 2 - n4) // 1000) * 1000        # star band end
        ids = spark.range(n).withColumnRenamed("id", "doc_id")
        chain = (spark.range(0, max(n4 - 1, 0))
                 .where((F.col("id") % chain_len) != chain_len - 1)
                 .select(F.col("id").alias("doc_a"),
                         (F.col("id") + 1).alias("doc_b")))
        star = (spark.range(n4, n2)
                .select((F.lit(n4)
                         + ((F.col("id") - n4) - ((F.col("id") - n4) % 1000)))
                        .alias("doc_a"),
                        F.col("id").alias("doc_b"))
                .where(F.col("doc_a") != F.col("doc_b")))
        rand = (spark.range(n2, n)
                .select(F.col("id").alias("doc_a"),
                        (F.lit(n2)
                         + F.pmod(F.xxhash64("id"), F.lit(max(n - n2, 1))))
                        .cast("long").alias("doc_b"))
                .where(F.col("doc_a") != F.col("doc_b")))
        pairs = chain.unionByName(star).unionByName(rand)

        rounds_bound = 2 * math.ceil(math.log2(max(chain_len, 2))) + 4
        n_sym = cl._symmetrize(pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))).count()
        labels, walls = {}, {}
        rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        for route, cap in (("driver", math.inf), ("spark", 0)):
            cl.CC_DRIVER_EDGES = cap
            t0 = time.time()
            rows = cl.resolve_clusters(ids, pairs, max_iters=rounds_bound)
            rows = rows.persist()
            n_out = rows.count()
            walls[route] = time.time() - t0
            labels[route] = rows
            if route == "driver":
                rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                          - rss0) / 1024

        for route, rows in labels.items():
            # ground truth for the constructed regimes
            bad_chain = rows.where(
                (F.col("doc_id") < n4)
                & (F.col("cluster_id") !=
                   F.col("doc_id") - (F.col("doc_id") % chain_len))).count()
            bad_star = rows.where(
                (F.col("doc_id") >= n4) & (F.col("doc_id") < n2)
                & (F.col("cluster_id") !=
                   F.lit(n4) + ((F.col("doc_id") - n4)
                                - ((F.col("doc_id") - n4) % 1000)))).count()
            n_keepers = rows.where("is_keeper").count()
            n_clusters = rows.select("cluster_id").distinct().count()
            assert bad_chain == 0 and bad_star == 0, (route, bad_chain,
                                                      bad_star)
            assert n_keepers == n_clusters, (route, n_keepers, n_clusters)
        d, s = labels["driver"], labels["spark"]
        assert d.exceptAll(s).isEmpty() and s.exceptAll(d).isEmpty(), \
            "the two routes' labels differ"

        print(json.dumps({
            "metric": "cc_nodes_per_sec",
            "value": round(n / walls["driver"], 1),
            "unit": "nodes/sec",
            "n_nodes": n_out,
            "n_edges": pairs.count(),
            "symmetric_edges": n_sym,
            "chain_len": chain_len,
            "rounds_bound": rounds_bound,
            "driver_wall_sec": round(walls["driver"], 3),
            "spark_wall_sec": round(walls["spark"], 3),
            "driver_rss_growth_mb": round(rss_mb, 1),
            "n_clusters": n_clusters,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
