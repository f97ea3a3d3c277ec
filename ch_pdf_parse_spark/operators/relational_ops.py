"""Remaining SURVEY.md §2 operator demos on the driver tables, each with a
DuckDB oracle twin. These demonstrate, on neutral TPC-H-ish data, the exact
relational primitives the extraction pipeline is built from (file:line of the
reference semantics cited per query)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import exact_sum, exact_sum_sql, q_sql, quantize, register, _t

# j_interval_overlap: broadcast the filtered side only below this row count
# (~40 B/row → ≤20 MB build side); above it, fall back to the value-banded
# bucketing join (round-4 advice: an unconditional broadcast hint bypasses
# autoBroadcastJoinThreshold and OOMs once the 1/53 slice outgrows memory)
J_BROADCAST_MAX_ROWS = 500_000


@register(
    "f_explode_nest_roundtrip",
    """
    WITH e AS (
      SELECT p_partkey,
             unnest(range(1, len(l) + 1)) - 1 AS pos,
             unnest(l) AS word
      FROM (SELECT p_partkey, string_split(p_name, ' ') AS l FROM part)
    )
    SELECT p_partkey,
           COALESCE(string_agg(word, ' ' ORDER BY pos), '') AS rebuilt,
           count(*) AS n_words,
           max(pos) AS last_pos
    FROM e GROUP BY p_partkey
    """,
)
def f_explode_nest_roundtrip(spark, sf_dir):
    """F1 + F3 in one plan (round-5 roster consolidation): pages→segments
    flatten = posexplode (the reference's stateful loop over
    jsonlist[i]['annotate'], predict/pdf2markdown.py:225-287), then the
    segments→document ordered re-nest (:549-683 re-assembly). The rebuilt
    string equals the source p_name, so the hash verifies both the flatten's
    positions and the nest's ordering end-to-end. COALESCE pins the
    empty-merge contract (string_agg NULL vs array_join '') though word
    elements can never be NULL (split never emits NULL elements)."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.split("p_name", " ").alias("l"))
    e = p.select("p_partkey", F.posexplode("l").alias("pos", "word"))
    return e.groupBy("p_partkey").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "word"))),
                        lambda x: x["word"]), " ").alias("rebuilt"),
        F.count("*").alias("n_words"),
        F.max("pos").cast("long").alias("last_pos"),
    )


@register(
    "a_group_concat_empty_sep",
    """
    SELECT l_orderkey,
           COALESCE(string_agg(l_returnflag, ''
                    ORDER BY l_linenumber NULLS FIRST, l_returnflag NULLS FIRST),
                    '') AS merged
    FROM lineitem GROUP BY l_orderkey
    """,
)
def a_group_concat_empty_sep(spark, sf_dir):
    """A1/A2: group-concat with EMPTY separator — the Chinese-aware no-space
    line merge (capstring += segments[0], predict/pdf2markdown.py:116-117).

    An all-NULL group merges to '' on both engines: Spark's array_join skips
    null elements and returns '', while string_agg returns NULL — COALESCE
    pins the empty-merge contract (tools/adversarial_gate.py). Null order is
    pinned FIRST to match Spark's struct comparator (null fields sort low)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber", "l_returnflag"))),
                lambda x: x["l_returnflag"]), "").alias("merged"))


@register(
    "a_session_merge",
    f"""
    WITH t AS (
      SELECT user_id, event_id, value, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
    ),
    s AS (
      SELECT user_id, event_id, value,
             -- BIGINT cast: DuckDB integer sum() yields HUGEINT, which exports
             -- via Arrow as decimal128(38,0) and hash-mismatches Spark's long
             CAST(sum(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM t
    )
    SELECT user_id, session_id, count(*) AS n_events,
           {q_sql(exact_sum_sql("value"))} AS session_value
    FROM s GROUP BY user_id, session_id
    """,
)
def a_session_merge(spark, sf_dir):
    """A2/M2 pattern: boundary-flag cumulative sum → session/paragraph ids →
    group merge (the new_line fold, predict/pdf2markdown.py:565-577)."""
    e = _t(spark, sf_dir, "events")
    # NULLS FIRST pinned on both engines (Spark/DuckDB ASC defaults differ);
    # every null-ts row then opens a fresh session on both: its lag(ts) is
    # NULL (either partition head or a preceding null-ts row), as does the
    # first timestamped row after the null block
    # event_id NULLS FIRST pinned too: Spark's bare ASC is nulls-first but
    # DuckDB's is nulls-last, so a NULL tie-break key silently reorders the
    # prefix between engines (gate seed 193, signed/NULL event-id dimension)
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_first("ts"), F.asc_nulls_first("event_id"))
    # fractional epoch seconds on both engines (events carry microseconds;
    # parquet timestamps load as TIMESTAMP_NTZ, which needs a 2-step cast)
    ep = F.col("ts").cast("timestamp").cast("double")
    gap = ep - F.lag(ep).over(w)
    t = e.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap > 3600), 1).otherwise(0))
    s = t.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        quantize(exact_sum("value"), 4).alias("session_value"))


@register(
    "j_interval_overlap",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM events a JOIN events b
      ON a.event_type = b.event_type
     AND a.event_id % 53 = 0
     AND a.event_id < b.event_id
     AND a.value < b.value + 5.0
     AND b.value < a.value + 5.0
    """,
)
def j_interval_overlap(spark, sf_dir,
                       broadcast_max_rows: int | None = None):
    """J3: interval/theta join (citation char-range overlap,
    train/preprocess.py:170-177) — equi key + range predicates.

    The equi key (event_type) has a handful of distinct values, so hash-
    partitioning both sides on it would put each key's entire population in
    ONE partition pair — a skew wall at 100× scale. The `% 53` side is small
    at driver scale, so it is broadcast: the big side streams map-side and
    the range predicates apply per-row (round-3 verdict nit #2; the pinned
    plan property asserts the BroadcastHashJoin + no exchange on the big
    side). But the filtered side grows linearly (~1/53 of events), and an
    explicit broadcast hint bypasses autoBroadcastJoinThreshold — at large
    scale factors an unconditional hint trades the skew wall for a driver
    OOM (round-4 advice). So the broadcast is GATED on a counted row bound
    (one column-pruned scan of the filtered side — at 10^12 rows that count
    is metadata-cheap next to the join it sizes), falling back to the
    value-banded bucketing join: key = (event_type, floor(value/5)), the
    small side exploded to ±1 neighbor bands so every |Δvalue| < 5 pair
    co-locates — key cardinality ∝ value range, no giant hash side anywhere.
    Both paths are value-identical (pinned in tests/test_relational.py)."""
    e = _t(spark, sf_dir, "events")
    small = e.where(F.col("event_id") % 53 == 0)
    cap = J_BROADCAST_MAX_ROWS if broadcast_max_rows is None else broadcast_max_rows
    if small.count() <= cap:
        a = F.broadcast(small).alias("a")
        b = e.alias("b")
        return (
            a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                   & (F.col("a.event_id") < F.col("b.event_id"))
                   & (F.col("a.value") < F.col("b.value") + 5.0)
                   & (F.col("b.value") < F.col("a.value") + 5.0))
            .select(F.col("a.event_id").alias("id_a"),
                    F.col("b.event_id").alias("id_b"))
        )
    # F.floor, never a long cast: cast truncates toward zero, so negative
    # values would band off-by-one (the round-1 salted-page derivation bug).
    # a explodes to {band-1, band, band+1}; b keeps its own band, so a pair
    # within |Δvalue| < 5 (whose bands differ by at most 1) meets in exactly
    # b's band — no duplicate candidates to dedup
    a = small.select(
        F.col("event_id").alias("id_a"), F.col("event_type").alias("et_a"),
        F.col("value").alias("v_a"),
        F.explode(F.array(F.floor(F.col("value") / 5.0) - 1,
                          F.floor(F.col("value") / 5.0),
                          F.floor(F.col("value") / 5.0) + 1)).alias("band"))
    b = e.select(
        F.col("event_id").alias("id_b"), F.col("event_type").alias("et_b"),
        F.col("value").alias("v_b"),
        F.floor(F.col("value") / 5.0).alias("band"))
    return (
        a.join(b, ["band"])
        .where((F.col("et_a") == F.col("et_b"))
               & (F.col("id_a") < F.col("id_b"))
               & (F.col("v_a") < F.col("v_b") + 5.0)
               & (F.col("v_b") < F.col("v_a") + 5.0))
        .select("id_a", "id_b")
    )


@register(
    "j_equijoin_broadcast",
    """
    SELECT o.o_orderkey, c.c_mktsegment, n.n_name
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    """,
)
def j_equijoin_broadcast(spark, sf_dir):
    """J2: page-aligned equi-join (predict/pdf2markdown.py:292,354,663);
    small dims broadcast explicitly — no shuffle of the fact side."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("o_orderkey", "c_mktsegment", "n_name")
    )


@register(
    "a_markdown_fold",
    """
    SELECT l_orderkey,
           COALESCE(string_agg('   ' || chr(10) || chr(10) || l_returnflag || ':' || l_linenumber,
                      '' ORDER BY l_linenumber NULLS FIRST, l_returnflag NULLS FIRST),
                    '') AS md
    FROM lineitem GROUP BY l_orderkey
    """,
)
def a_markdown_fold(spark, sf_dir):
    """A3: ordered markdown fold — per-record separator + ordered empty-sep
    concat (mdstring accumulation, predict/pdf2markdown.py:549-654)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.concat(F.lit("   \n\n"), F.col("l_returnflag"), F.lit(":"),
                 F.col("l_linenumber").cast("string")).alias("frag"))
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("l_linenumber", "frag"))),
                        lambda x: x["frag"]), "").alias("md"))


@register(
    "x_scalar_funcs",
    f"""
    SELECT p_partkey,
           string_split(p_type, ' ')[-1] AS last_word,
           '![](' || p_brand || ')' AS md_image,
           {q_sql("sqrt(p_size * p_size + (p_retailprice / 100) * (p_retailprice / 100))", 4)} AS dist,
           CAST(floor(p_size * (1024.0 / 50 - 0.00001)) AS BIGINT) AS scaled,
           substr(p_name, 1, greatest(length(p_name) - 4, 0)) AS stem
    FROM part
    """,
)
def x_scalar_funcs(spark, sf_dir):
    """X1-X7 scalar functions: element_at(split)[-1] (X3), markdown image
    format (X2), Euclidean distance (X5), int truncation scaling (X7),
    filename munging (X4).

    The distance squares via MULTIPLICATION, never pow(x, 2): libm pow is
    not guaranteed exactly rounded even for integer exponents, and a 1-ulp
    Java-vs-DuckDB pow difference landed exactly on the quantize boundary
    of a hostile double (gate seed 197) — x*x is an exact IEEE product,
    identical on both engines, and sqrt is correctly rounded by spec."""
    p = _t(spark, sf_dir, "part")
    dx = F.col("p_size").cast("double")
    dy = F.col("p_retailprice") / 100
    return p.select(
        "p_partkey",
        F.element_at(F.split("p_type", " "), -1).alias("last_word"),
        F.concat(F.lit("![]("), F.col("p_brand"), F.lit(")")).alias("md_image"),
        quantize(F.sqrt(dx * dx + dy * dy), 4).alias("dist"),
        F.floor(F.col("p_size") * (1024.0 / 50 - 0.00001)).cast("long").alias("scaled"),
        F.expr("substr(p_name, 1, greatest(length(p_name) - 4, 0))").alias("stem"),
    )


@register(
    "s_union_all",
    """
    SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, 'dup_' || source AS source FROM documents WHERE doc_id % 3 = 0
    """,
)
def s_union_all(spark, sf_dir):
    """Set op: multi-source union (jsonlist.extend, train/preprocess.py:22 →
    unionByName)."""
    d = _t(spark, sf_dir, "documents")
    return d.where(F.col("doc_id") % 2 == 0).select("doc_id", "source").unionByName(
        d.where(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.concat(F.lit("dup_"), F.col("source")).alias("source")))


@register(
    "agg_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {exact_sum_sql("l_quantity", 2)} AS sum_qty,
           {exact_sum_sql("l_extendedprice", 2)} AS sum_price,
           {q_sql(exact_sum_sql("l_discount", 2) + " / count(*)", 6)}
             AS avg_disc,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark, sf_dir):
    """Headline aggregation (TPC-H Q1 shape): map-side partial aggregation,
    decimal sums for cross-engine exactness, tiny result."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).cast("double").alias("sum_price"),
        quantize(
            F.sum(F.col("l_discount").cast("decimal(38,2)")).cast("double")
            / F.count("*"), 6
        ).alias("avg_disc"),
        F.count("*").alias("n"),
    )


@register(
    "m_need_info_gate",
    """
    SELECT doc_id,
           CASE WHEN NOT (doc_id % 5 <> 0) THEN 'masked'
                WHEN text LIKE 'key %' AND doc_id % 5 <> 0 THEN 'keyword'
                WHEN n_chars < 120 AND doc_id % 5 <> 0 THEN 'short'
                ELSE 'text' END AS branch,
           count(*) OVER (PARTITION BY
             CASE WHEN NOT (doc_id % 5 <> 0) THEN 'masked'
                  WHEN text LIKE 'key %' AND doc_id % 5 <> 0 THEN 'keyword'
                  WHEN n_chars < 120 AND doc_id % 5 <> 0 THEN 'short'
                  ELSE 'text' END) AS branch_n
    FROM documents
    """,
)
def m_need_info_gate(spark, sf_dir):
    """P4: the need-info boolean gate as a when() ladder — every supervision
    branch in the reference requires ``need-info == True`` alongside its kind
    test, and gate-false rows fall to a masked branch
    (train/preprocess.py:312,338,364,418,444,470 vs :547). ``need_info`` is
    synthesized deterministically (doc_id % 5 <> 0) the way the fixture
    corpus synthesizes its other annotation fields."""
    d = _t(spark, sf_dir, "documents")
    need_info = F.col("doc_id") % 5 != 0
    branch = (
        F.when(~need_info, "masked")
        .when(F.col("text").like("key %") & need_info, "keyword")
        .when((F.col("n_chars") < 120) & need_info, "short")
        .otherwise("text")
    )
    return d.select(
        "doc_id", branch.alias("branch"),
        F.count("*").over(Window.partitionBy(branch)).alias("branch_n"))


@register(
    "a_windowed_events",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           {q_sql(exact_sum_sql("value"))} AS total_value
    FROM events
    WHERE ts IS NOT NULL  -- windowing is defined on event time only; Spark's
                          -- window(ts) silently drops null-ts rows
    GROUP BY 1, 2
    """,
)
def a_windowed_events(spark, sf_dir):
    """Tumbling-window aggregation over the events table. Epoch-aligned
    1-hour windows == date_trunc('hour'), so the DuckDB oracle that checks
    it is plain SQL."""
    e = (_t(spark, sf_dir, "events")
         .withColumn("ts", F.col("ts").cast("timestamp"))
         # explicit: F.window would drop null-ts rows anyway; the oracle
         # mirrors the contract with WHERE ts IS NOT NULL
         .where(F.col("ts").isNotNull()))
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"),
             quantize(exact_sum("value"), 4).alias("total_value"))
        .select(F.col("window.start").alias("window_start"),
                "event_type", "n", "total_value")
    )
