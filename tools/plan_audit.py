"""Physical-plan audit: dump `explain("formatted")` for the headline queries
and check the plan properties the engine is designed around, writing
BENCH/PLANS.md as reviewable evidence.

Checked properties (each also pinned by tests/test_plans.py):

* flagship small-doc path: **zero Exchange** — scan → filter → MapInArrow,
  nothing else (the 100TB scale argument rests on this);
* `p_filter_project`: predicate reaches the parquet scan (`PushedFilters`)
  and the scan reads only referenced columns (`ReadSchema`);
* `j_equijoin_broadcast`: small side broadcast (`BroadcastHashJoin`), no
  shuffle of the big side;
* `agg_pricing_summary`: map-side partial aggregation before the exchange
  (two HashAggregate levels);
* `dedup_minhash_lsh`: shuffles only at the band-bucket self-join + final
  distinct (LSH's point: candidates, not all pairs);
* `dedup_clusters`: in the AQE final plan of the candidate-pair union, each
  of the three detector self-joins reads its b side from a ReusedExchange.

Usage: python tools/plan_audit.py [sf_dir] (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "BENCH", "PLANS.md")


def _node_indent(line: str) -> int:
    """Depth of a tree line = column of its branch connector (``+-``/``:-``).
    Siblings share the connector column regardless of the optional codegen
    ``* `` marker (which shifts the node-text column, so that can't be the
    metric); children sit 3 columns right. The root has no connector: -1."""
    m = re.match(r"[ :]*[+:]-", line)
    return m.end() - 2 if m else -1


def broadcast_side_filter_condition(plan: str) -> str | None:
    """The Condition of the first Filter INSIDE the first BroadcastExchange
    subtree of a formatted plan, or None — identifies WHICH side a join
    broadcasts (shared by the audit and tests/test_plans.py so the two never
    drift).

    Subtree membership is decided by indentation, not textual order: a
    sibling/parent branch printed after the exchange (e.g. the streamed side
    of a BuildLeft join) indents at or left of the exchange and is skipped,
    so its Filter can never be misattributed to the broadcast side."""
    tree = plan.split("\n\n")[0].splitlines()
    fid = None
    for i, line in enumerate(tree):
        if re.search(r"BroadcastExchange \(\d+\)", line):
            depth = _node_indent(line)
            for sub in tree[i + 1:]:
                if _node_indent(sub) <= depth:
                    break  # left the exchange's subtree
                m = re.search(r"Filter \((\d+)\)", sub)
                if m:
                    fid = m.group(1)
                    break
            break
    if fid is None:
        return None
    det = re.search(rf"\({fid}\) Filter\n(?:.*\n)*?Condition : (.*)", plan)
    return det.group(1) if det else None


def formatted_plan(df) -> str:
    mode = df._jdf.sparkSession().sessionState().conf()  # noqa: F841 (touch)
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def final_plan(df) -> str:
    """Execute ``df`` and render its AQE final plan: exchange reuse is a
    stage-level decision under AQE, invisible in the static plan."""
    df.collect()
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple"))


def small_path_df(spark, sf_dir: str):
    """The flagship zero-shuffle branch, exactly as pipeline.extract_documents
    builds it for regular-size docs (reconstructed here so the audit can
    assert on THIS branch alone; the full plan unions the salted long-tail
    branch, which legitimately shuffles)."""
    from pyspark.sql import functions as F

    from ch_pdf_parse_spark import constants as C
    from ch_pdf_parse_spark.pipeline import OUTPUT_SCHEMA, _extract_arrow
    from ch_pdf_parse_spark.registry import fixture_docs

    docs = fixture_docs(spark, sf_dir).select("doc_id", "spans")
    small = docs.where(F.size("spans") <= C.SALT_SPAN_THRESHOLD)
    return small.mapInArrow(_extract_arrow, OUTPUT_SCHEMA)


def audit(spark, sf_dir: str) -> tuple[list[tuple[str, str, bool, str]], dict[str, str]]:
    """Returns ([(query, property, ok, detail)], {query: plan_text})."""
    import __spark_entry__ as entry

    q = entry.queries()
    checks: list[tuple[str, str, bool, str]] = []
    plans: dict[str, str] = {}

    def add(name, prop, ok, detail=""):
        checks.append((name, prop, bool(ok), detail))

    # --- flagship zero-shuffle branch -----------------------------------
    p = formatted_plan(small_path_df(spark, sf_dir))
    plans["extract_spans (small-doc branch)"] = p
    n_ex = len(re.findall(r"\bExchange\b", p))
    add("extract_spans/small", "zero Exchange (no shuffle)", n_ex == 0,
        f"{n_ex} exchanges")
    add("extract_spans/small", "MapInArrow present", "MapInArrow" in p)

    # --- scan pushdown + pruning ----------------------------------------
    p = formatted_plan(q["p_filter_project"](spark, sf_dir))
    plans["p_filter_project"] = p
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    add("p_filter_project", "filters pushed to scan",
        bool(pushed and pushed.group(1).strip()),
        pushed.group(1)[:100] if pushed else "none")
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    ncols = len(rs.group(1).split(",")) if rs else -1
    add("p_filter_project", "column pruning (scan reads only referenced cols)",
        0 < ncols <= 6, f"ReadSchema has {ncols} of lineitem's 16 columns")

    # --- broadcast join ---------------------------------------------------
    p = formatted_plan(q["j_equijoin_broadcast"](spark, sf_dir))
    plans["j_equijoin_broadcast"] = p
    add("j_equijoin_broadcast", "BroadcastHashJoin", "BroadcastHashJoin" in p)

    # --- partial aggregation ---------------------------------------------
    p = formatted_plan(q["agg_pricing_summary"](spark, sf_dir))
    plans["agg_pricing_summary"] = p
    n_agg = len(re.findall(r"HashAggregate", p))
    add("agg_pricing_summary", "map-side partial agg (2 HashAggregate levels)",
        n_agg >= 2, f"{n_agg} HashAggregate nodes")
    add("agg_pricing_summary", "map-side combine (partial_sum before exchange)",
        "partial_sum" in p)

    # --- LSH: bounded shuffle count --------------------------------------
    p = formatted_plan(q["dedup_minhash_lsh"](spark, sf_dir))
    plans["dedup_minhash_lsh"] = p
    # count operator detail blocks ("(N) Exchange"), not raw word occurrences
    # (each node appears twice in formatted output: tree + detail section)
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    # signature agg + two join sides + distinct ≈ 4-6 exchanges; all-pairs
    # would appear as a nested-loop join instead
    add("dedup_minhash_lsh", "candidate join is hash-based (no all-pairs NLJ)",
        "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p)
    # r7: the leaf RoundRobin spread_scan exchanges (one per single-row-group
    # scan branch) are allowed; the bound is on KEYED exchanges, which is
    # what the shuffle-volume claim is about
    n_keyed = len(re.findall(r"Arguments: (?:hash|range)partitioning", p))
    add("dedup_minhash_lsh", "bounded KEYED exchanges (leaf spread excluded)",
        n_keyed <= 7, f"{n_keyed} keyed of {n_ex} exchanges")

    # --- boilerplate strip: per-row higher-order filter (r3 rewrite; since
    # r5 the driver query is the consolidated text_profile — the standalone
    # builder keeps the zero-shuffle property worth pinning) ----------------
    from ch_pdf_parse_spark.operators.text_analysis import text_main_content

    p = formatted_plan(text_main_content(spark, sf_dir))
    plans["text_main_content"] = p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    add("text_main_content", "zero Exchange (per-row line filter, r3)",
        n_ex == 0, f"{n_ex} exchanges")
    # (the higher-order filter itself evaluates outside whole-stage codegen —
    # Spark never codegens lambda functions — but the plan stays map-only
    # with codegen through the scan+split; the property worth pinning is
    # "no shuffle", asserted above, plus codegen presence up to the HOF)
    add("text_main_content", "codegen spans the scan/split stage",
        "codegen id" in p)

    # --- consolidated text profile (r5): everything per-row except the
    # bottom-1 shingle sketch, which adds one map-side-combined groupBy and
    # one doc_id join — so exchanges stay bounded and hash-based -----------
    p = formatted_plan(q["text_profile"](spark, sf_dir))
    plans["text_profile"] = p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    add("text_profile", "bounded exchanges (fingerprint agg + join only)",
        n_ex <= 4, f"{n_ex} exchanges")
    add("text_profile", "fingerprint join is hash-based (no NLJ)",
        "SortMergeJoin" in p or "ShuffledHashJoin" in p
        or "BroadcastHashJoin" in p)
    add("text_profile", "partial aggregation on the shingle sketch",
        "partial" in p.lower() or "HashAggregate" in p)

    # --- similarity: broadcast direction + bucketed candidates (round 2) --
    from ch_pdf_parse_spark.operators.similarity import sim_topk_bruteforce

    p = formatted_plan(sim_topk_bruteforce(spark, sf_dir))
    plans["sim_topk_bruteforce"] = p
    add("sim_topk_bruteforce",
        "query matrix broadcast, corpus streamed through ONE MapInArrow "
        "(no join, no per-pair Python eval)",
        "Join" not in p
        and len(re.findall(r"\(\d+\) MapInArrow", p)) == 1
        and "ArrowEvalPython" not in p)

    p = formatted_plan(q["dedup_embedding_cosine"](spark, sf_dir))
    plans["dedup_embedding_cosine"] = p
    add("dedup_embedding_cosine",
        "LSH-bucketed matmul scorer (no all-pairs NLJ, no join at all — r7)",
        "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
        and not re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", p)
        and "FlatMapGroupsInPandas" in p
        and bool(re.search(r"hashpartitioning\(band", p)))

    from ch_pdf_parse_spark.operators.similarity import sim_ann_ivf

    p = formatted_plan(sim_ann_ivf(spark, sf_dir))
    plans["sim_ann_ivf"] = p
    add("sim_ann_ivf", "cell equi-join, assignment map-side (no NLJ)",
        "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
        and bool(re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", p)))

    p = formatted_plan(q["sim_ann_ivf_kmeans"](spark, sf_dir))
    plans["sim_ann_ivf_kmeans"] = p
    add("sim_ann_ivf_kmeans", "dual-point (nprobe 2+4) query keeps the cell "
        "equi-join (no NLJ) and runs ONE join for both operating points",
        "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
        and len(re.findall(
            r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
            p)) == 1)

    # --- hot-bucket caps reuse the join exchange (r3) ---------------------
    p = formatted_plan(q["dedup_ngram_jaccard"](spark, sf_dir))
    plans["dedup_ngram_jaccard"] = p
    n_shingle_ex = len(re.findall(r"Exchange hashpartitioning\(shingle", p))
    add("dedup_ngram_jaccard", "df-cap window reuses the join's shingle "
        "exchange (no extra shuffle on the key)", n_shingle_ex <= 1,
        f"{n_shingle_ex} shingle exchanges")

    # --- decontamination: eval shingles broadcast, corpus streamed --------
    p = formatted_plan(q["pipeline_decontaminate"](spark, sf_dir))
    plans["pipeline_decontaminate"] = p
    add("pipeline_decontaminate", "eval shingles broadcast (BroadcastHashJoin)",
        "BroadcastHashJoin" in p)
    ex_inputs = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", p)
    add("pipeline_decontaminate", "no exchange carries corpus text",
        all("text#" not in x for x in ex_inputs),
        f"{len(ex_inputs)} exchanges")

    # --- hash split: map-only ---------------------------------------------
    p = formatted_plan(q["pipeline_hash_split"](spark, sf_dir))
    plans["pipeline_hash_split"] = p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    add("pipeline_hash_split", "zero Exchange (pure projection)", n_ex == 0,
        f"{n_ex} exchanges")

    # --- r4: repetition metrics are per-row (zero exchanges) --------------
    p = formatted_plan(q["text_repetition"](spark, sf_dir))
    plans["text_repetition"] = p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    add("text_repetition", "zero Exchange (per-row higher-order exprs)",
        n_ex == 0, f"{n_ex} exchanges")

    # --- r5: PII scrub is per-row (zero exchanges) -------------------------
    p = formatted_plan(q["pipeline_pii_scrub"](spark, sf_dir))
    plans["pipeline_pii_scrub"] = p
    # r7: the leaf RoundRobin spread_scan exchange un-serializes the
    # one-row-group local scan; the property is zero KEYED exchanges
    n_keyed = len(re.findall(r"Arguments: (?:hash|range)partitioning", p))
    add("pipeline_pii_scrub", "zero KEYED Exchange (regex counts + chained "
        "regexp_replace, pure projection; leaf spread excluded)",
        n_keyed == 0, f"{n_keyed} keyed exchanges")

    # --- r4: interval join broadcasts the filtered side -------------------
    p = formatted_plan(q["j_interval_overlap"](spark, sf_dir))
    plans["j_interval_overlap"] = p
    add("j_interval_overlap", "filtered side broadcast (no hash partitioning "
        "on the low-cardinality event_type key)",
        "BroadcastHashJoin" in p
        and not re.search(r"Exchange hashpartitioning\(event_type", p))

    # --- r4: minhash self-join reuses the signature pipeline (RUNTIME) ----
    fp = final_plan(q["dedup_minhash_lsh"](spark, sf_dir))
    add("dedup_minhash_lsh", "AQE final plan reuses the (band,sig) exchange "
        "(signature pipeline computed once)",
        "isFinalPlan=true" in fp and "ReusedExchange" in fp)

    # --- the composed union reuses every detector self-join's exchange ----
    # dedup_clusters hands the union straight to resolve_clusters: wrap it
    # to read the union's final plan there
    from ch_pdf_parse_spark.operators import cluster

    union_plans = []
    resolve = cluster.resolve_clusters
    cluster.resolve_clusters = lambda nodes, pairs: (
        union_plans.append(final_plan(pairs)) or resolve(nodes, pairs))
    try:
        q["dedup_clusters"](spark, sf_dir)
    finally:
        cluster.resolve_clusters = resolve
    n_reused = union_plans[0].split("== Initial Plan ==")[0].count(
        "ReusedExchange")
    add("dedup_clusters", "AQE final plan of the candidate-pair union "
        "reuses one exchange per detector self-join (shared shingle table "
        "is a checkpoint, not a cache entry)",
        n_reused >= 3, f"{n_reused} reused exchanges")

    # --- r4: corpus mixing ------------------------------------------------
    p = formatted_plan(q["pipeline_source_mix"](spark, sf_dir))
    plans["pipeline_source_mix"] = p
    rs = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    add("pipeline_source_mix", "thresholds broadcast; scan never reads text",
        "BroadcastHashJoin" in p and bool(rs)
        and all("text" not in s for s in rs))

    p = formatted_plan(q["pipeline_pack_sequences"](spark, sf_dir))
    plans["pipeline_pack_sequences"] = p
    pack_ex = re.findall(
        r"\(\d+\) Exchange\n(?:Input[^\n]*\n)?Arguments: hashpartitioning\(([^,]*)",
        p)
    add("pipeline_pack_sequences", "exactly one exchange, on the pack bucket",
        len(pack_ex) == 1 and pack_ex[0].startswith("bucket"),
        str(pack_ex))

    # --- composed pipeline: text never shuffles ---------------------------
    p = formatted_plan(q["pipeline_training_corpus"](spark, sf_dir))
    plans["pipeline_training_corpus"] = p
    ex_inputs = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", p)
    add("pipeline_training_corpus", "no exchange carries the text column",
        bool(ex_inputs) and all("text#" not in x for x in ex_inputs),
        f"{len(ex_inputs)} exchanges, inputs: "
        + "; ".join(x[:60] for x in ex_inputs))
    add("pipeline_training_corpus", "both aggs combine map-side (partial_*)",
        len(re.findall(r"partial_count|partial_sum|partial_min", p)) >= 2)

    # --- r5: raw wire-format lifecycle is shuffle-free end-to-end ---------
    # packed .cpw shards → binaryFile scan → MapInArrow parse → extraction
    # kernel; shard count alone sets ingest parallelism (sources/wireformat.py)
    import shutil
    import tempfile

    from ch_pdf_parse_spark.sources.wireformat import (extract_wire,
                                                       list_shards,
                                                       read_wire,
                                                       write_wire_shards)

    from ch_pdf_parse_spark.registry import fixture_docs

    wire_tmp = tempfile.mkdtemp(prefix="plan_audit_wire_")
    try:
        docs = fixture_docs(spark, sf_dir).select("doc_id", "spans").limit(64)
        write_wire_shards(docs, wire_tmp, n_shards=4)
        shards = list_shards(wire_tmp)  # one listing for every read below
        p = formatted_plan(read_wire(spark, shards))
        plans["wire_decode"] = p
        add("wire_decode", "binaryFile scan → MapInArrow parse, zero "
            "Exchange (shard count alone sets ingest parallelism)",
            "MapInArrow" in p and not re.search(r"\bExchange\b", p))
        # extraction of the wire shards: the parse and the kernel run in one
        # MapInArrow over one binaryFile scan, with no Exchange
        p = formatted_plan(extract_wire(spark, shards))
        plans["wire_ingest_extract"] = p
        n_py = len(re.findall(r"\(\d+\) MapInArrow", p))
        n_scan = len(re.findall(r"\(\d+\) Scan binaryFile", p))
        add("wire_ingest_extract", "one binaryFile scan → one MapInArrow "
            "(parse + extraction), zero Exchange",
            n_py == n_scan == 1 and not re.search(r"\bExchange\b", p),
            f"{n_scan} scans, {n_py} MapInArrow")
    finally:
        shutil.rmtree(wire_tmp, ignore_errors=True)

    # --- r5: as-of join is union-merge, not a range join ------------------
    from ch_pdf_parse_spark.operators.asof import j_asof_join

    p = formatted_plan(j_asof_join(spark, sf_dir))
    plans["j_asof_join"] = p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    add("j_asof_join", "union-merge as-of: ONE Exchange (hash by user_id), "
        "ZERO Join nodes — no range-join pair explosion, no separate "
        "dedup shuffle",
        n_ex == 1 and not re.search(r"Join|CartesianProduct", p)
        and "hashpartitioning(user_id" in p,
        f"{n_ex} exchanges")

    # --- r5: gap sessionization rides one exchange end-to-end -------------
    from ch_pdf_parse_spark.operators.asof import a_sessionize_events

    p = formatted_plan(a_sessionize_events(spark, sf_dir))
    plans["a_sessionize_events"] = p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    n_sort = len(re.findall(r"\(\d+\) Sort", p))
    add("a_sessionize_events", "lag window + session-id prefix-sum window + "
        "per-(user, session) agg all ride ONE hash(user_id) Exchange and "
        "ONE Sort",
        n_ex == 1 and n_sort == 1 and "hashpartitioning(user_id" in p,
        f"{n_ex} exchanges, {n_sort} sorts")

    # --- r5: CDC compaction is a map-side-combined argmax, not a window ---
    from ch_pdf_parse_spark.operators.cdc import pipeline_cdc_compact

    p = formatted_plan(pipeline_cdc_compact(spark, sf_dir))
    plans["pipeline_cdc_compact"] = p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    add("pipeline_cdc_compact", "partial_max_by BEFORE the single Exchange "
        "(shuffle volume bounded by keys-per-partition, not changes), no "
        "Window node",
        "partial_max_by" in p and n_ex == 1 and "Window" not in p,
        f"{n_ex} exchanges")

    # --- r5: BPE histogram caps via TopK, never a global sort -------------
    from ch_pdf_parse_spark.operators.tokenizer import word_histogram_df

    ddocs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = formatted_plan(word_histogram_df(ddocs.select("text"), top=100))
    plans["tokenizer_bpe_histogram"] = p
    add("tokenizer_bpe_train", "histogram cap plans as TakeOrderedAndProject "
        "(per-partition partial top-V + partial_count; no global sort of "
        "the word space)",
        "TakeOrderedAndProject" in p and "partial_count" in p
        and not re.search(r"\(\d+\) Sort\b", p))

    return checks, plans


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from ch_pdf_parse_spark.packaging import ensure_on_executors
    from ch_pdf_parse_spark.session import get_spark

    spark = get_spark("plan-audit", cores=4, shuffle_partitions=8)
    # the audited queries' UDFs pickle package functions by reference, so
    # the workers must import the package from any cwd
    ensure_on_executors(spark)
    checks, plans = audit(spark, sf_dir)

    lines = [
        "# Physical-plan audit (`tools/plan_audit.py`)",
        "",
        f"Spark {spark.version}, sf_dir `{sf_dir}`. Properties below are also",
        "pinned as regression tests in `tests/test_plans.py`.",
        "",
        "| query | property | ok | detail |",
        "|---|---|---|---|",
    ]
    for name, prop, ok, detail in checks:
        lines.append(f"| {name} | {prop} | {'✅' if ok else '❌'} | {detail} |")
    lines.append("")
    for name, plan in plans.items():
        body = "\n".join(plan.splitlines()[:70])
        lines += [f"## {name}", "", "```", body, "```", ""]
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    bad = [c for c in checks if not c[2]]
    print(f"wrote {OUT}: {len(checks) - len(bad)}/{len(checks)} properties hold")
    for name, prop, _, detail in bad:
        print(f"FAIL {name}: {prop} ({detail})")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
