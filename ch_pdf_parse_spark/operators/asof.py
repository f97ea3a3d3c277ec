"""Temporal event-stream operators: the as-of join and gap sessionization.

As-of (temporal nearest-predecessor) join — the canonical operator Spark's
DataFrame API lacks, built as a composition of existing ops (no UDF, no
custom physical strategy).

Semantics (event attribution, the classic web-analytics use): every
`purchase` event is matched to the MOST RECENT `view` event of the same
user at-or-before the purchase timestamp; purchases with no preceding view
keep NULL reference columns (left-outer as-of).

Why not a range join: the naive formulation
``l JOIN r ON l.user = r.user AND r.ts <= l.ts`` explodes to O(|views per
user| x |purchases per user|) pairs per key before the per-row max — a
BroadcastNestedLoopJoin or a blown-up SortMergeJoin at web scale. The
scalable shape is the UNION-MERGE as-of: tag both streams, union them, and
run ONE window (partition by user, order by (ts, tag)) taking
``last(ref, ignorenulls=True)`` over the unbounded-preceding frame. That is
exactly the merge phase of a merge join, done by the window sort:

* ONE Exchange (hash by user_id) and ZERO Join nodes in the plan
  (pinned in tests/test_plans.py) — candidate count never exceeds input
  row count, independent of per-key stream sizes;
* per-partition cost is the window sort, O(n log n) rows-in-partition;
* at 100 TB: shuffle volume = the two streams' key+payload columns only.
  Skew (one hot user) is the window's known weakness — the production
  mitigation is :func:`asof_join_bucketed`: partition the merge by
  (user_id, time-bucket) and inject each bucket's carry-in (the last
  reference from earlier buckets, computed on per-bucket lasts only), which
  keeps the same merge semantics while spreading a hot key over its active
  buckets. Row-identical to the plain merge by test, on the driver table
  and on a hot-key corpus.

Duplicate-reference resolution is folded INTO the merge order instead of a
separate dedup shuffle: among `view` rows sharing (user_id, ts) the match
must be deterministic cross-engine, so references sort by
(ref_id ASC NULLS FIRST, ref_value ASC NULLS FIRST) and ``last()`` picks
the maximum — the same keeper the oracle's QUALIFY row_number()
(ORDER BY ... DESC NULLS LAST = 1) designates before its native ASOF JOIN.
The oracle is DuckDB's built-in ASOF LEFT JOIN — an independent engine's
independent implementation of the operator, not a SQL transliteration of
this plan.

Cross-engine contracts (adversarial-gate hardened, registry.py doctrine):
NULL user_id / NULL ts rows are excluded from BOTH sides on BOTH engines
(ordering and equi-matching on NULL keys have no portable definition —
same contract as a_windowed_events' ts filter); `value` is canonicalized
with ``+ 0.0`` so a -0.0/0.0 repr tie among duplicate references cannot
make the keeper's emitted value partition-order-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import exact_sum, exact_sum_sql, q_sql, quantize, register, _t

_REF_T = "struct<ref_event_id:bigint,ref_value:double,ref_ts:timestamp>"


def asof_join(left: DataFrame, right: DataFrame, on: str, ts: str) -> DataFrame:
    """Generic as-of join: for every `left` row, the latest `right` row with
    ``right[ts] <= left[ts]`` within the same `on` key (ties at equal ts
    include the right row). `left` must carry (on, ts, event_id); `right`
    (on, ts, ref_event_id, ref_value). Returns left columns + the matched
    reference columns (NULL when no predecessor exists). Callers must have
    dropped NULL on/ts rows already."""
    u = _tag_right(right, on, ts).unionByName(_tag_left(left, on, ts))
    return _merge(u, [on], on, ts)


def _tag_right(right: DataFrame, on: str, ts: str) -> DataFrame:
    return right.select(
        on, ts, F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("event_id"),
        F.struct(
            F.col("ref_event_id"),
            (F.col("ref_value") + F.lit(0.0)).alias("ref_value"),
            F.col(ts).alias("ref_ts"),
        ).alias("ref"),
    )


def _tag_left(left: DataFrame, on: str, ts: str) -> DataFrame:
    return left.select(
        on, ts, F.lit(1).alias("tag"), "event_id",
        F.lit(None).cast(_REF_T).alias("ref"),
    )


def _merge_order(ts: str) -> list:
    """Merge order: time, then rights-before-lefts at equal ts (at-or-before
    semantics), then the deterministic duplicate-reference keeper order
    (last == max by (ref_event_id, ref_value), NULLS FIRST so non-null
    wins), then event_id so the sort is total over left duplicates too."""
    return [
        F.col(ts).asc(),
        F.col("tag").asc(),
        F.col("ref.ref_event_id").asc_nulls_first(),
        F.col("ref.ref_value").asc_nulls_first(),
        F.col("event_id").asc_nulls_first(),
    ]


def _merge(u: DataFrame, part_cols: list, on: str, ts: str) -> DataFrame:
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*_merge_order(ts))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = F.last("ref", ignorenulls=True).over(w)
    return (
        u.withColumn("m", m)
        .where(F.col("tag") == 1)
        .select(
            "event_id", on, ts,
            F.col("m.ref_event_id").alias("ref_event_id"),
            F.col("m.ref_value").alias("ref_value"),
            F.col("m.ref_ts").alias("ref_ts"),
        )
    )


def asof_join_bucketed(left: DataFrame, right: DataFrame, on: str, ts: str,
                       bucket_seconds: int = 86_400) -> DataFrame:
    """Skew-hardened as-of join — the module docstring's production
    mitigation, implemented: identical semantics to :func:`asof_join`
    (asserted row-identical in tests/test_asof.py, driver table AND a
    hot-key corpus), but the big merge window partitions by
    (key, time-bucket) instead of (key), so one hot key spreads over as
    many partitions as it has active buckets and no single task sorts the
    whole key.

    The boundary exchange: each left bucket must also see the last
    reference from EARLIER buckets. That carry is computed on the
    per-(key, bucket) LASTS only — two orders of magnitude smaller than the
    data (one row per key per active bucket) — via the same
    unbounded-preceding merge trick over buckets, then injected into each
    bucket's merge as one synthetic tagged-right row. Total cost: the big
    (key, bucket) window + two small aggregations; still zero Join nodes
    against the event streams themselves.

    Bucket assignment uses floor(unix_timestamp / bucket_seconds) — floor,
    not a truncating cast, so bucket boundaries stay uniform for pre-1970
    timestamps too (a cast toward zero would merge buckets -1 and 0 into
    one double-width bucket and shift every negative bucket; join results
    would still be correct — the mapping stays monotone in ts, which is all
    the carry logic needs — but the skew-spreading guarantee would quietly
    degrade for pre-epoch data). bucket_seconds trades carry-table size
    against per-partition sort size and would be tuned to the key's event
    rate at production scale."""
    b = F.floor(F.unix_timestamp(F.col(ts)) / F.lit(bucket_seconds)).cast("long")
    r = _tag_right(right, on, ts).withColumn("b", b)
    l = _tag_left(left, on, ts).withColumn("b", b)

    # one row per (key, bucket): that bucket's keeper-ordered LAST right
    w_last = Window.partitionBy(on, "b").orderBy(
        F.col(ts).desc(),
        F.col("ref.ref_event_id").desc_nulls_last(),
        F.col("ref.ref_value").desc_nulls_last(),
    )
    bucket_last = (
        r.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select(on, "b", "ref")
    )
    # carry-in for every bucket that contains lefts: the last right over all
    # strictly-earlier buckets (frame excludes the current row, so a
    # bucket's own rights stay with the in-bucket merge)
    seq = (
        l.select(on, "b")
        .unionByName(bucket_last.select(on, "b")).distinct()
        .join(bucket_last, [on, "b"], "left")
    )
    w_carry = (
        Window.partitionBy(on)
        .orderBy(F.col("b").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        seq.withColumn("carry", F.last("ref", ignorenulls=True).over(w_carry))
        .where(F.col("carry").isNotNull())
        .select(
            on, F.col("carry.ref_ts").alias(ts), F.lit(0).alias("tag"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("carry").alias("ref"), "b",
        )
    )
    u = l.unionByName(r).unionByName(carry.select(*l.columns))
    return _merge(u, [on, "b"], on, ts)


@register(
    "j_asof_join",
    """
    WITH l AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
        AND user_id IS NOT NULL AND ts IS NOT NULL),
    r0 AS (
      SELECT user_id, ts, event_id AS ref_event_id,
             value + 0.0 AS ref_value
      FROM events
      WHERE event_type = 'view'
        AND user_id IS NOT NULL AND ts IS NOT NULL),
    r AS (
      -- deterministic keeper among duplicate (user_id, ts) references:
      -- max by (ref_event_id, ref_value), the same row the Spark merge
      -- order designates
      SELECT * FROM r0
      QUALIFY row_number() OVER (
        PARTITION BY user_id, ts
        ORDER BY ref_event_id DESC NULLS LAST,
                 ref_value DESC NULLS LAST) = 1)
    SELECT l.event_id, l.user_id, l.ts,
           r.ref_event_id, r.ref_value, r.ts AS ref_ts
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def j_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver registration: purchase→view attribution over the events table
    (module docstring has the full design). Beyond-reference operator (the
    reference has no temporal joins); DuckDB's native ASOF LEFT JOIN is the
    oracle."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    keyed = ev.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    left = keyed.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    right = keyed.where(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("ref_event_id"),
        F.col("value").alias("ref_value"))
    return asof_join(left, right, on="user_id", ts="ts")


SESSION_GAP_MINUTES = 30
# one constant, three dialects: Spark interval expr (the operator), DuckDB
# interval literal (oracle SQL below), and the gap of the built-in
# session_window that tests/test_asof.py checks the operator against (+1us
# bridges the built-in's >= to the operator's strict >) — they must move
# together or the oracle hash / session_window reference test breaks
SESSION_GAP = f"INTERVAL {SESSION_GAP_MINUTES} MINUTES"
SESSION_GAP_DUCK = f"INTERVAL {SESSION_GAP_MINUTES} MINUTE"
SESSION_GAP_STREAM = f"{SESSION_GAP_MINUTES} minutes 1 microseconds"


@register(
    "a_sessionize_events",
    f"""
    WITH e AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE ts IS NOT NULL),
    marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts > lag(ts) OVER w + {SESSION_GAP_DUCK}
                  THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)),
    sessioned AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
      FROM marked)
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           {q_sql(exact_sum_sql("value"))} AS total_value
    FROM sessioned
    GROUP BY user_id, session_id
    """,
)
def a_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization — the other canonical temporal operator a
    web-scale events pipeline needs: a user's events split into sessions at
    every inactivity gap > 30 minutes (lag + boundary-flag prefix-sum, the
    time-gap analog of A2's cumulative-sum session ids over spans).

    Scale shape: one Exchange (hash by user_id) serves the lag window, the
    session-id prefix-sum window, AND the final per-(user, session) agg —
    Spark chains both windows and satisfies the groupBy's clustering from
    the same partitioning (hash(user_id) ⊇ clustering(user_id, session_id)),
    so text/value payloads shuffle exactly once (pinned in
    tests/test_plans.py). Interval comparison (`ts > lag + INTERVAL`) avoids
    epoch-seconds conversion, which would re-introduce session-timezone DST
    semantics; NULL ts rows are excluded on both engines (gap from an
    undefined time is undefined — a_windowed_events' contract); both window
    sort keys are pinned NULLS FIRST (Spark's ASC default, NOT DuckDB's);
    the session-id SUM casts to BIGINT (DuckDB HUGEINT divergence class);
    value sums via decimal addends + quantize (registry doctrine)."""
    ev = (_t(spark, sf_dir, "events")
          .withColumn("ts", F.col("ts").cast("timestamp"))
          .where(F.col("ts").isNotNull())
          .select("user_id", "ts", "event_id", "value"))
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_first("ts"), F.asc_nulls_first("event_id"))
    lag_ts = F.lag("ts").over(w)
    marked = ev.withColumn(
        "is_new",
        (lag_ts.isNull()
         | (F.col("ts") > lag_ts + F.expr(SESSION_GAP))).cast("long"))
    sessioned = marked.withColumn(
        "session_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             quantize(exact_sum("value"), 4).alias("total_value"))
    )
