"""CDC changelog compaction: independent recomputation + hostile shapes.

The driver-facing oracle is the DuckDB QUALIFY twin; here the Spark result
is additionally recomputed by a pure-Python dict fold over the same
changelog (a third implementation), and hand-built changelogs pin the
delete-wins, late-update-wins, and NULL-key/seq contracts.
"""

import math

import pandas as pd

from pyspark.sql import functions as F

from ch_pdf_parse_spark.operators.cdc import (compact_changelog,
                                              pipeline_cdc_compact)

SF = "/root/testdata/sf0.001"


def _cmod(a: int, m: int) -> int:
    """C-style (truncating) modulo — what Spark's % and DuckDB's % compute.
    Python's % is floor-mod and disagrees for negative dividends
    (-1 % 5003 = 5002 in Python, -1 in Spark/DuckDB); the third
    implementation must implement the engines' contract, not Python's.
    Integer-only (no float division) so it stays exact past 2**53."""
    return a % m if a >= 0 else -((-a) % m)


def test_matches_pure_python_fold_on_driver_table(spark):
    got = {r.key: (r.last_seq, r.value, r.event_type)
           for r in pipeline_cdc_compact(spark, SF).collect()}

    ev = pd.read_parquet(SF + "/events.parquet")
    state = {}
    rows = []
    for t in ev.itertuples():
        eid = t.event_id
        key = None if pd.isna(eid) else _cmod(eid, 5003)
        seq = None if pd.isna(eid) else eid
        op = "D" if (seq is not None and _cmod(seq, 17) == 0) else "U"
        val = None if pd.isna(t.value) else t.value + 0.0
        et = None if (isinstance(t.event_type, float)
                      and math.isnan(t.event_type)) else t.event_type
        # not-null flag before each coalesced value: mirrors the engine
        # ordering struct so NULL can never tie a sentinel-valued row
        ord_ = (seq is not None, seq if seq is not None else -1,
                val is not None, val if val is not None else -1.0e308,
                et is not None, et if et is not None else "", op)
        rows.append((key, ord_, (op, seq, val, et)))
    for key, ord_, payload in rows:
        if key not in state or ord_ > state[key][0]:
            state[key] = (ord_, payload)
    want = {k: (p[1], p[2], p[3]) for k, (_, p) in state.items()
            if p[0] != "D"}
    assert got == want
    assert len(got) > 0


def _run(spark, rows):
    ch = spark.createDataFrame(
        rows, "key long, seq long, op string, value double, "
        "event_type string")
    return {r.key: (r.last_seq, r.value, r.event_type)
            for r in compact_changelog(ch).collect()}


def test_latest_update_wins_and_delete_removes(spark):
    out = _run(spark, [
        (1, 10, "U", 1.0, "a"),
        (1, 20, "U", 2.0, "b"),   # latest update wins
        (2, 10, "U", 5.0, "x"),
        (2, 30, "D", None, None),  # delete wins -> key gone
        (3, 5, "D", None, None),
        (3, 7, "U", 9.0, "y"),    # update AFTER delete resurrects
    ])
    assert out == {1: (20, 2.0, "b"), 3: (7, 9.0, "y")}


def test_null_seq_loses_to_any_real_seq(spark):
    out = _run(spark, [
        (1, None, "U", 99.0, "late-null"),
        (1, 0, "U", 1.0, "real"),
    ])
    assert out == {1: (0, 1.0, "real")}


def test_null_key_group_compacts_too(spark):
    out = _run(spark, [
        (None, 1, "U", 1.0, "a"),
        (None, 2, "U", 2.0, "b"),
    ])
    assert out == {None: (2, 2.0, "b")}


def test_null_never_ties_its_sentinel(spark):
    """Review finding (round 5): with a plain COALESCE ordering, a NULL
    field and a row whose real value equals the sentinel would collide
    while their payloads differ — the not-null flags must keep the
    ordering total. The real -1 seq must beat the NULL seq, the real ''
    event_type must beat the NULL one."""
    out = _run(spark, [
        (1, -1, "U", 1.0, "real-neg-one"),
        (1, None, "U", 1.0, "null-seq"),
    ])
    assert out == {1: (-1, 1.0, "real-neg-one")}
    out = _run(spark, [
        (2, None, "U", 1.0, ""),
        (2, None, "U", 1.0, None),
    ])
    assert out == {2: (None, 1.0, "")}


def test_duplicate_max_rows_are_deterministic(spark):
    # two rows tie on (seq, value, event_type, op) -> identical payloads,
    # any winner yields the same output row
    out = _run(spark, [
        (1, 5, "U", 1.5, "a"),
        (1, 5, "U", 1.5, "a"),
    ])
    assert out == {1: (5, 1.5, "a")}
