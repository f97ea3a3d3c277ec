"""Physical-plan regression tests (the scale contract, pinned).

These assert the *plan shape* the 100TB design depends on — see
tools/plan_audit.py, which writes the full evidence to BENCH/PLANS.md:

* the flagship small-doc branch is zero-shuffle (scan → filter → MapInArrow);
* predicates and column pruning reach the parquet scan;
* the page-index equi-join broadcasts its small side.

A regression here (someone inserts a repartition, breaks pushdown by
wrapping a column in a UDF, …) is a scale bug even when all value-equality
tests stay green — which is exactly why it gets its own tests.
"""

import re

from pyspark.sql import functions as F

from ch_pdf_parse_spark import constants as C
from ch_pdf_parse_spark.pipeline import OUTPUT_SCHEMA, _extract_arrow
from tools.plan_audit import final_plan as _final_plan


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_flagship_small_branch_has_no_shuffle(docs_df):
    small = docs_df.select("doc_id", "spans").where(
        F.size("spans") <= C.SALT_SPAN_THRESHOLD)
    plan = _formatted(small.mapInArrow(_extract_arrow, OUTPUT_SCHEMA))
    assert "MapInArrow" in plan
    assert not re.search(r"\bExchange\b", plan), plan


def test_filter_and_pruning_reach_scan(docs_df):
    q = docs_df.select("doc_id").where(F.col("doc_id") > "doc_000005")
    plan = _formatted(q)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "GreaterThan" in pushed.group(1), plan
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and rs.group(1) == "doc_id:string", plan  # spans column pruned


def test_sim_topk_broadcasts_query_side(spark):
    """The brute-force scorer must broadcast the small QUERY set and stream
    the corpus (broadcasting the corpus OOMs at 100 TB — round-1 verdict).

    Round 7: the query matrix ships via sc.broadcast into ONE MapInArrow
    over the corpus (BLAS matmul per batch) — the plan must have NO join
    at all, and the corpus side must cross the Python boundary exactly
    once (one MapInArrow, no per-pair ArrowEvalPython)."""
    from ch_pdf_parse_spark.operators.similarity import sim_topk_bruteforce

    plan = _formatted(sim_topk_bruteforce(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    # one MapInArrow NODE (formatted output names each node twice: once in
    # the tree, once in the numbered detail section)
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, \
        plan
    # the corpus scan reads only (vec_id, embedding) — no full-row ship
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and "label" not in rs.group(1), plan


def test_dedup_embedding_cosine_is_bucketed(spark):
    """Near-dup cosine must be LSH-bucketed — never an all-pairs
    nested-loop/cartesian over the corpus (round-1 verdict item #4).
    Round 7: the bucket self-join is gone too — candidates are scored by
    the bucket-local matmul (one FlatMapGroupsInPandas over the (band,
    bkey) exchange), so NO join node remains and vectors cross exactly one
    keyed exchange (per band membership) instead of two join sides plus a
    per-pair ArrowEvalPython stream."""
    from ch_pdf_parse_spark.operators.similarity import dedup_embedding_cosine

    plan = _formatted(dedup_embedding_cosine(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert not re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
                         plan), plan
    assert "FlatMapGroupsInPandas" in plan, plan
    # exactly one keyed exchange carries vectors: hashpartitioning on the
    # scalar (band, bkey) pair; the only other keyed exchange is the narrow
    # (id_l, id_r) max() dedup
    assert re.search(r"hashpartitioning\(band", plan), plan


def test_sim_ann_ivf_joins_on_cell(spark):
    """IVF candidates come from an equi-join on the scalar cell id (cell
    assignment is computed map-side in the UDF — vectors are never shuffled
    under a ranking window, and there is no all-pairs fallback)."""
    from ch_pdf_parse_spark.operators.similarity import sim_ann_ivf

    plan = _formatted(sim_ann_ivf(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan), plan


def test_sim_ann_ivf_kmeans_dual_point_single_join(spark):
    """The dual-operating-point registration (nprobe 2 and 4 in one result,
    round 5) must serve BOTH points from ONE cell equi-join: probes are
    assigned once at the higher nprobe and candidates fan out to the points
    map-side (explode), so folding the former _np4 entry costs one plan, not
    two."""
    from ch_pdf_parse_spark.operators.similarity import sim_ann_ivf_kmeans

    plan = _formatted(sim_ann_ivf_kmeans(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    n_joins = len(re.findall(
        r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan))
    assert n_joins == 1, plan


def test_asof_join_one_exchange_zero_joins(spark):
    """The as-of join (round 5) is the union-merge shape: tag both streams,
    union, one window over (user_id) — so the plan must contain exactly ONE
    Exchange (hash by user_id) and ZERO join operators. A Join node or a
    second Exchange appearing here means someone rewrote it as a range join
    (pair explosion at scale) or added a separate dedup shuffle (the keeper
    is folded into the merge order by design)."""
    from ch_pdf_parse_spark.operators.asof import j_asof_join

    plan = _formatted(j_asof_join(spark, "/root/testdata/sf0.001"))
    assert not re.search(r"Join|CartesianProduct", plan), plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_cdc_compact_partial_agg_one_exchange(spark):
    """CDC compaction (round 5) must be the map-side-combined argmax, not a
    window rank: partial_max_by BEFORE the single Exchange (shuffle volume
    bounded by keys-per-partition, not changes) and no Window node. A
    Window/row_number rewrite here would shuffle the whole changelog."""
    from ch_pdf_parse_spark.operators.cdc import pipeline_cdc_compact

    plan = _formatted(pipeline_cdc_compact(spark, "/root/testdata/sf0.001"))
    assert "partial_max_by" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Window" not in plan, plan


def test_bucketed_asof_partitions_by_key_and_bucket(spark):
    """The skew-hardened as-of variant must run its BIG merge window
    partitioned by (user_id, b) — that spread is the whole point — and the
    carry join over the per-(key, bucket) lasts must broadcast (it is two
    orders of magnitude smaller than the streams; a SortMergeJoin there
    would re-shuffle the lasts for nothing)."""
    from ch_pdf_parse_spark.operators.asof import asof_join_bucketed

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull()))
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("ref_event_id"),
        F.col("value").alias("ref_value"))
    plan = _formatted(asof_join_bucketed(left, right, on="user_id", ts="ts"))
    assert re.search(r"hashpartitioning\(user_id#\d+L?, b#", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sessionize_one_exchange(spark):
    """Gap sessionization (round 5): the lag window, the session-id
    prefix-sum window, and the per-(user, session) aggregation must all ride
    ONE hash(user_id) Exchange — Spark chains the same-spec windows over one
    Sort and satisfies the groupBy's clustering from the existing
    partitioning. A second Exchange means someone broke the shared window
    spec or re-keyed the agg."""
    from ch_pdf_parse_spark.operators.asof import a_sessionize_events

    plan = _formatted(a_sessionize_events(spark, "/root/testdata/sf0.001"))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_pii_scrub_zero_exchanges(spark):
    """PII detect+mask is a pure per-row projection — the regex counts and
    the chained regexp_replace must never introduce a KEYED shuffle. The
    only allowed exchange is the leaf round-robin scan spread
    (registry.spread_scan — absent on any splittable source)."""
    import re as _re

    from ch_pdf_parse_spark.operators.pii import pipeline_pii_scrub

    plan = _formatted(pipeline_pii_scrub(spark, "/root/testdata/sf0.001"))
    args = _re.findall(r"\(\d+\) Exchange\n(?:Input[^\n]*\n)?Arguments: (\w+)",
                       plan)
    assert all(a.lower() == "roundrobinpartitioning" for a in args), plan


def test_small_dim_join_broadcasts(spark, docs_df):
    dim = spark.createDataFrame(
        [(f"doc_{i:06d}", i % 3) for i in range(10)], ["doc_id", "bucket"])
    plan = _formatted(docs_df.join(F.broadcast(dim), "doc_id"))
    assert "BroadcastHashJoin" in plan, plan
    # the big (documents) side must not shuffle for a broadcast join
    assert not re.search(r"Exchange hashpartitioning\(doc_id", plan), plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    """Decontamination must broadcast the (small) eval-set shingles and
    stream the corpus — the corpus text never shuffles; the only exchange is
    the per-doc hit count on doc_id."""
    from ch_pdf_parse_spark.operators.dedup import pipeline_decontaminate

    plan = _formatted(pipeline_decontaminate(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    # no KEYED exchange may carry the text/shingle payload of the corpus
    # side (the count agg exchange partitions on doc_id only). The one
    # allowed text carrier is the leaf ROUND-ROBIN spread of the scan
    # (registry.spread_scan): it moves the corpus bytes exactly once to
    # un-serialize single-row-group local inputs and vanishes on any
    # splittable source — never a data-dependent shuffle.
    for m in re.finditer(
            r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
            r"Arguments: (\w+)", plan):
        if "text#" in m.group(1):
            assert m.group(2).lower() == "roundrobinpartitioning", plan


def test_hash_split_is_map_only(spark):
    """The train/val/test assignment is a pure projection — zero exchanges."""
    from ch_pdf_parse_spark.operators.dedup import pipeline_hash_split

    plan = _formatted(pipeline_hash_split(spark, "/root/testdata/sf0.001"))
    assert not re.search(r"\bExchange\b", plan), plan


def test_main_content_is_map_only(spark):
    """r3: text_main_content is a per-row higher-order filter — zero
    exchanges (the earlier explode->groupBy re-nest paid a shuffle and
    merged NULL doc_ids into one group)."""
    from ch_pdf_parse_spark.operators.text_analysis import text_main_content

    plan = _formatted(text_main_content(spark, "/root/testdata/sf0.01"))
    assert not re.search(r"\bExchange\b", plan), plan


def test_dedup_bucket_caps_reuse_join_exchange(spark):
    """The hot-bucket guards (window count over the join key) must not add a
    second hashpartitioning exchange on the key beyond the join's own."""
    from ch_pdf_parse_spark.operators.dedup import dedup_ngram_jaccard

    plan = _formatted(dedup_ngram_jaccard(spark, "/root/testdata/sf0.01"))
    n_shingle_exchanges = len(re.findall(
        r"Exchange hashpartitioning\(shingle", plan))
    assert n_shingle_exchanges <= 1, plan


def test_interval_join_broadcasts_filtered_side(spark):
    """j_interval_overlap equi-keys on event_type (few distinct values):
    hash-partitioning on it would be a skew wall at scale, so the small
    filtered side must broadcast and the big side must not shuffle."""
    from ch_pdf_parse_spark.operators.relational_ops import j_interval_overlap

    plan = _formatted(j_interval_overlap(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert not re.search(r"Exchange hashpartitioning\(event_type", plan), plan


def test_interval_join_banded_fallback_matches_broadcast(spark):
    """r5 (round-4 advice): the broadcast hint is gated on a counted row
    bound; above it the query falls back to the value-banded bucketing join.
    Both paths must be value-identical, and the fallback must not
    hash-partition on the skewed event_type key."""
    from ch_pdf_parse_spark.operators.relational_ops import j_interval_overlap

    sf = "/root/testdata/sf0.001"
    bc = sorted(map(tuple, j_interval_overlap(spark, sf).collect()))
    banded_df = j_interval_overlap(spark, sf, broadcast_max_rows=0)
    banded = sorted(map(tuple, banded_df.collect()))
    assert bc == banded
    assert len(bc) > 0
    plan = _formatted(banded_df)
    assert not re.search(r"Exchange hashpartitioning\(event_type", plan), plan


def test_text_repetition_is_map_only(spark):
    """The Gopher repetition metrics are per-row higher-order expressions —
    zero exchanges at any corpus size."""
    from ch_pdf_parse_spark.operators.text_analysis import text_repetition

    plan = _formatted(text_repetition(spark, "/root/testdata/sf0.01"))
    assert not re.search(r"\bExchange\b", plan), plan


def test_minhash_self_join_reuses_signature_pipeline(spark):
    """r3 driver regression root cause: a broadcast flip on the band-bucket
    self-join destroyed exchange reuse and ran the shingle→minhash→window
    pipeline twice. The merge hint restores SMJ; at runtime the b side must
    collapse to a ReusedExchange of the (band, sig) shuffle."""
    from ch_pdf_parse_spark.operators.dedup import dedup_minhash_lsh

    plan = _final_plan(dedup_minhash_lsh(spark, "/root/testdata/sf0.001"))
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan


def test_simhash_self_join_reuses_signature_pipeline(spark):
    from ch_pdf_parse_spark.operators.dedup import dedup_simhash

    plan = _final_plan(dedup_simhash(spark, "/root/testdata/sf0.001"))
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan


def test_candidate_union_reuses_each_self_join_exchange(spark, monkeypatch):
    """Inside ``dedup_clusters`` each of the three detector self-joins
    reads its b side from a ReusedExchange of its a side. The shingle table
    that simhash and jaccard share must not be a cache entry: under a
    cached relation AQE reused no exchange of either."""
    from ch_pdf_parse_spark.operators import cluster

    plans = []
    resolve = cluster.resolve_clusters

    def wrapped(nodes, pairs, *args, **kwargs):
        plans.append(_final_plan(pairs))
        return resolve(nodes, pairs, *args, **kwargs)

    monkeypatch.setattr(cluster, "resolve_clusters", wrapped)
    cluster.dedup_clusters(spark, "/root/testdata/sf0.001")
    (plan,) = plans
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 3, plan


def test_source_mix_broadcasts_thresholds_and_prunes_scan(spark):
    """The per-source thresholds broadcast back onto the corpus (no shuffle
    of the doc side) and the scan reads only (doc_id, source) — the text
    column never leaves the parquet footer."""
    from ch_pdf_parse_spark.operators.mixing import pipeline_source_mix

    plan = _formatted(pipeline_source_mix(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan, plan
    rs = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and all("text" not in s for s in rs), rs


def test_pack_sequences_single_bucket_exchange(spark):
    """Packing is per-bucket parallel: exactly one exchange, on the bucket
    key, for the prefix-sum window."""
    from ch_pdf_parse_spark.operators.mixing import pipeline_pack_sequences

    plan = _formatted(pipeline_pack_sequences(spark, "/root/testdata/sf0.01"))
    ex = re.findall(
        r"\(\d+\) Exchange\n(?:Input[^\n]*\n)?Arguments: hashpartitioning\(([^,]*)",
        plan)
    assert len(ex) == 1 and ex[0].startswith("bucket"), (ex, plan)


def test_substring_dedup_shuffles_ints_only(spark):
    """Exact-substring dedup's scale contract: every Exchange carries int64
    anchor columns only — the shingle STRING is hashed map-side and neither
    it nor the document text ever shuffles; no pair explosion (equi-join on
    h, never nested-loop/cartesian); and the final span aggregation reuses
    the island window's doc_id partitioning (no exchange between them)."""
    from ch_pdf_parse_spark.operators.substring import dedup_substring

    plan = _formatted(dedup_substring(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # every KEYED exchange block's input is free of string payloads; the
    # one allowed text carrier is the leaf round-robin scan spread
    # (registry.spread_scan — absent on any splittable source)
    for m in re.finditer(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
                         r"Arguments: (\w+)", plan):
        cols = m.group(1)
        if m.group(2).lower() == "roundrobinpartitioning":
            continue
        assert "shingle" not in cols and "text" not in cols, plan
    # Window(doc_id) -> ... -> HashAggregate(doc_id, grp) with no exchange
    # in between: hashpartitioning(doc_id) satisfies the (doc_id, grp)
    # clustering, so the span merge is free
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    win = re.search(r"Window \(\d+\)", tree)
    agg_above = tree[:win.start()]
    assert "Exchange" not in agg_above.split("HashAggregate")[-1]
