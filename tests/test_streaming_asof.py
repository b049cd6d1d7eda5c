"""Streaming-window semantics + as-of join on controlled inline data."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.asof import asof_join
from etl_generator_demo_spark.streaming.windows import (
    streaming_pipeline,
    tumbling_counts,
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_tumbling_window_boundaries(spark):
    rows = [
        (1, _ts(0), "a", 1.0),    # window 00:00
        (2, _ts(59), "a", 2.0),   # window 00:00 (inclusive start, exclusive end)
        (3, dt.datetime(2024, 1, 1, 1, 0), "a", 4.0),  # window 01:00
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    out = {(r["window_start"], r["event_type"]): r["n_events"]
           for r in tumbling_counts(ev).collect()}
    assert out[(dt.datetime(2024, 1, 1, 0, 0), "a")] == 2
    assert out[(dt.datetime(2024, 1, 1, 1, 0), "a")] == 1


def test_session_window_gap_merge(spark):
    rows = [
        (1, _ts(0)), (2, _ts(10)), (3, _ts(25)),   # one session (gaps < 30m)
        (4, dt.datetime(2024, 1, 1, 2, 0)),        # new session after 95m gap
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp").withColumn(
        "user_id", F.lit(7)
    )
    out = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .orderBy("w.start")
        .collect()
    )
    assert [r["n"] for r in out] == [3, 1]


def test_asof_join_semantics(spark):
    clicks = spark.createDataFrame(
        [(7, _ts(1)), (7, _ts(10)), (8, _ts(5))], "user_id long, click_ts timestamp"
    )
    purchases = spark.createDataFrame(
        [
            (100, 7, _ts(0)),    # before any click -> null
            (101, 7, _ts(10)),   # simultaneous -> click at same ts counts (<=)
            (102, 7, _ts(30)),   # latest prior click = 00:10
            (103, 9, _ts(30)),   # user with no clicks -> null
        ],
        "event_id long, user_id long, purchase_ts timestamp",
    )
    out = asof_join(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts", value_cols=["click_ts"],
    )
    got = {r["event_id"]: r["asof_click_ts"] for r in out.collect()}
    assert got[100] is None
    assert got[101] == _ts(10)
    assert got[102] == _ts(10)
    assert got[103] is None


def test_asof_join_forward_tie_semantics(spark):
    """Equal-timestamp left event must match (>= semantics) — the tie
    case ADVICE flagged: second-granularity data has ties even though
    the nanosecond fixture does not."""
    from etl_generator_demo_spark.operators.asof import asof_join_forward

    views = spark.createDataFrame(
        [(7, _ts(10)), (7, _ts(20)), (8, _ts(5))], "user_id long, view_ts timestamp"
    )
    purchases = spark.createDataFrame(
        [
            (200, 7, _ts(10)),   # tie: view at the SAME ts must match
            (201, 7, _ts(15)),   # next view strictly after = 00:20
            (202, 7, _ts(25)),   # no later view -> null
            (203, 8, _ts(5)),    # tie on a different key
            (204, 9, _ts(0)),    # key with no views -> null
        ],
        "event_id long, user_id long, purchase_ts timestamp",
    )
    out = asof_join_forward(
        views, purchases, key="user_id",
        left_ts="view_ts", right_ts="purchase_ts", value_cols=["view_ts"],
    )
    got = {r["event_id"]: r["asof_view_ts"] for r in out.collect()}
    assert got[200] == _ts(10)
    assert got[201] == _ts(20)
    assert got[202] is None
    assert got[203] == _ts(5)
    assert got[204] is None


def test_streaming_pipeline_is_streaming(spark):
    sdf = streaming_pipeline(spark)
    assert sdf.isStreaming
    assert "window" in dict(sdf.dtypes)


def test_asof_tolerance_boundary_inclusive(spark, tmp_path):
    """A click exactly 1 hour before the purchase is still attributed
    (boundary inclusive); 1h + 1µs is rejected to NULL."""
    from etl_generator_demo_spark.operators.asof import j8_asof_tolerance_click

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: click exactly -1h
        (1, base - dt.timedelta(hours=1), 1, "click", 0.0, "{}"),
        (2, base, 1, "purchase", 5.0, "{}"),
        # user 2: click 1h + 1µs before -> stale
        (3, base - dt.timedelta(hours=1, microseconds=1), 2, "click", 0.0, "{}"),
        (4, base, 2, "purchase", 5.0, "{}"),
        # user 3: no click at all
        (5, base, 3, "purchase", 5.0, "{}"),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows, schema).write.parquet(f"{tmp_path}/events.parquet")
    d = str(tmp_path)
    got = {r["event_id"]: r for r in j8_asof_tolerance_click(spark, d).collect()}
    assert got[2]["attributed"] == 1 and got[2]["asof_click_ts"] is not None
    assert got[4]["attributed"] == 0 and got[4]["asof_click_ts"] is None
    assert got[5]["attributed"] == 0 and got[5]["asof_click_ts"] is None
