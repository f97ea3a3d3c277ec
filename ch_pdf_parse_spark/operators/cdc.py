"""CDC changelog compaction — the lakehouse MERGE INTO / upsert analog,
Spark-native (beyond-reference pipeline operator: every 10^12-row mutable
table is maintained as an append-only changelog plus periodic compaction).

Semantics: a changelog of (key, seq, op['U'|'D'], payload...) rows is
compacted to current state — per key, the highest-seq change wins; if that
winner is a delete the key disappears.

Scale shape — aggregation, NOT a window: the naive formulation
(row_number over (partition by key order by seq desc) = 1) must first
SHUFFLE every changelog row to its key's partition and only then rank.
Compaction is an argmax, so it runs as ``max_by(payload, ord)`` — an
aggregate with MAP-SIDE PARTIAL combine: each input partition reduces to
one candidate per key before the shuffle, so shuffle volume is bounded by
|keys seen per partition|, not |changes| (the plan pin asserts
partial_max_by before the single Exchange and zero Window nodes; Spark
plans the struct-payload argmax as SortAggregate, whose per-partition
sorts are local — the shuffle-volume property is the scale claim). At
100 TB with daily compaction this is the difference between shuffling a
day of changes and shuffling the key space.

Determinism (adversarial-gate doctrine): the argmax ordering struct
carries, for every payload-visible column, a not-null FLAG followed by
the coalesced value (non-null beats NULL, and a NULL can never tie a row
whose real value equals the sentinel — a plain COALESCE ordering would
let (seq=NULL) and (seq=-1) rows collide while their payloads differ,
which is exactly the partition-order-dependence this struct exists to
kill; found by review, pinned in tests/test_cdc.py). Equal ordering
therefore implies equal output row. The DuckDB oracle expresses the same
keeper with QUALIFY row_number() over the identical flag+value key list
(equivalent to the struct max because every ordering field is non-null).

The driver registration synthesizes the changelog deterministically from
the events table (key = event_id % 5003, seq = event_id, every 17th change
a delete) — both engines derive it from the same scan, so the oracle hash
checks real compaction work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register, _t

_NEG = -1.0e308  # below any real double in the corpus; NULL-value sentinel


def compact_changelog(ch: DataFrame) -> DataFrame:
    """(key, seq, op, value, event_type) changelog → current state.
    One aggregate, map-side combined; see module docstring."""
    ord_ = F.struct(
        F.col("seq").isNotNull().cast("int").alias("s1n"),
        F.coalesce(F.col("seq"), F.lit(-1)).alias("s1"),
        (F.col("value") + F.lit(0.0)).isNotNull().cast("int").alias("s2n"),
        F.coalesce(F.col("value") + F.lit(0.0), F.lit(_NEG)).alias("s2"),
        F.col("event_type").isNotNull().cast("int").alias("s3n"),
        F.coalesce(F.col("event_type"), F.lit("")).alias("s3"),
        F.col("op").alias("s4"),
    )
    payload = F.struct(
        F.col("op"), F.col("seq"),
        (F.col("value") + F.lit(0.0)).alias("value"), F.col("event_type"))
    return (
        ch.groupBy("key").agg(F.max_by(payload, ord_).alias("p"))
        .where(F.col("p.op") != "D")
        .select("key", F.col("p.seq").alias("last_seq"),
                F.col("p.value").alias("value"),
                F.col("p.event_type").alias("event_type"))
    )


@register(
    "pipeline_cdc_compact",
    """
    WITH ch AS (
      SELECT event_id % 5003 AS key,
             event_id AS seq,
             CASE WHEN event_id % 17 = 0 THEN 'D' ELSE 'U' END AS op,
             value + 0.0 AS value,
             event_type
      FROM events),
    ranked AS (
      SELECT * FROM ch
      QUALIFY row_number() OVER (
        PARTITION BY key
        ORDER BY (seq IS NOT NULL) DESC, COALESCE(seq, -1) DESC,
                 (value IS NOT NULL) DESC, COALESCE(value, -1e308) DESC,
                 (event_type IS NOT NULL) DESC,
                 COALESCE(event_type, '') DESC,
                 op DESC) = 1)
    SELECT key, seq AS last_seq, value, event_type
    FROM ranked WHERE op <> 'D'
    """,
)
def pipeline_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver registration over a changelog synthesized from events
    (module docstring). NULL event_id rows become the NULL-key group with
    NULL seq — grouped identically by both engines, ordered by the
    coalesced sentinels."""
    ev = _t(spark, sf_dir, "events")
    ch = ev.select(
        (F.col("event_id") % 5003).alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_id") % 17 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        "value", "event_type",
    )
    return compact_changelog(ch)
