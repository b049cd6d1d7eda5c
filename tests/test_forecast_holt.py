"""Closed-form anchors for Holt's dyadic linear smoothing (round 10)."""

import datetime

import duckdb

from etl_generator_demo_spark.operators.timeseries import (
    holt_linear,
    x4_holt_linear_forecast,
)
from etl_generator_demo_spark.registry import load_all


def test_constant_series_is_a_fixed_point():
    """y ≡ c: level stays c, trend stays 0 at every step (the
    recursion's fixed point) — no drift from the floor divisions."""
    level, trend = holt_linear([500] * 40)
    assert (level, trend) == (500, 0)


def test_two_step_hand_computed():
    """[100, 200]: l2 = (200+100+0)//2 = 150, b2 = (0+50)//4 = 12."""
    assert holt_linear([100, 200]) == (150, 12)


def test_negative_trend_uses_floor_not_truncation():
    """[204, 0]: l2 = 102, trend numerator = -102; floor(-102/4) = -26
    where truncation would give -25 — the divergence the pmod oracle
    spelling exists to prevent."""
    assert holt_linear([204, 0]) == (102, -26)


def test_operator_matches_oracle_on_tiny_fixture(spark, tmp_path):
    """Two purchase days -> the hand-computed (150, 12) state, from
    BOTH the Spark operator and the recursive-CTE DuckDB oracle."""
    rows = [
        (1, datetime.datetime(2024, 1, 1, 9), 1, "purchase", 100.0, "{}"),
        (2, datetime.datetime(2024, 1, 2, 9), 1, "purchase", 200.0, "{}"),
        (3, datetime.datetime(2024, 1, 1, 10), 2, "click", 7.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = x4_holt_linear_forecast(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # cents: day1=10000, day2=20000 -> l=15000, b=(15000-10000)//4=1250
    assert (r["n_days"], r["level_c2"], r["trend_c2"]) == (2, 15000, 1250)
    assert r["forecast_7d_c2"] == 15000 + 7 * 1250

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    sql = load_all()["x4_holt_linear_forecast"].oracle
    assert con.execute(sql).fetchall() == [(2, 15000, 1250, 15000 + 7 * 1250)]


def test_empty_series_returns_no_rows(spark, tmp_path):
    """No purchases -> 0 rows from both engines (same contract family
    as the Theil–Sen empty case)."""
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 9), 1, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    assert x4_holt_linear_forecast(spark, str(tmp_path)).collect() == []


# ---------------------------------------------------------------------------
# property tests (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=60))
def test_holt_level_stays_in_series_hull(series):
    """With y >= 0 the smoothed level stays within a slack band of the
    observed range: level is a damped average of observations, so it
    cannot run away from the data (trend may, slowly)."""
    level, trend = holt_linear(series)
    lo, hi = min(series), max(series)
    span = hi - lo + 1
    assert lo - span <= level <= hi + span


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=10**9),
    st.integers(min_value=1, max_value=50),
)
def test_holt_constant_fixed_point_property(c, n):
    assert holt_linear([c] * n) == (c, 0)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=2, max_size=40),
    st.integers(min_value=1, max_value=10**6),
)
def test_holt_shift_equivariance(series, shift):
    """Adding a constant to every observation shifts the level by that
    constant and leaves the trend unchanged (the recursion is affine
    in y with coefficient sum 1 for the level, 0 for the trend)."""
    l0, b0 = holt_linear(series)
    l1, b1 = holt_linear([y + shift for y in series])
    assert (l1, b1) == (l0 + shift, b0)
