"""Closed-form anchors for the STL-lite decomposition (round 8).

For inputs whose decomposition is known analytically, the operator
must recover it exactly — these anchors prove the arithmetic, while
the DuckDB oracle proves cross-engine parity on the real fixture.
"""

import datetime

from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.timeseries import STL_HALF, stl_decompose

WIDTH = 2 * STL_HALF + 1


def _daily(spark, revs, start="2024-01-01"):
    d0 = datetime.date.fromisoformat(start)
    rows = [(d0 + datetime.timedelta(days=i), int(r)) for i, r in enumerate(revs)]
    return spark.createDataFrame(rows, "day date, rev long")


def test_linear_series_has_zero_seasonal_and_remainder(spark):
    """rev_t = a + b·t: the centered MA reproduces the line exactly
    (mean of an arithmetic progression is its midpoint), so detrending
    leaves nothing — seasonal and remainder must be exactly 0 on every
    interior day, and trend_e2 must equal 100·rev."""
    a, b, n = 1000, 7, 28
    out = stl_decompose(_daily(spark, [a + b * i for i in range(n)])).collect()
    assert len(out) == n
    interior = [r for r in out if r["trend_e2"] is not None]
    assert len(interior) == n - 2 * STL_HALF
    for r in interior:
        assert r["trend_e2"] == 100 * r["rev"]
        assert r["seasonal_e2"] == 0
        assert r["remainder_e2"] == 0
    # edge days (incomplete window) carry NULL components, not a
    # shortened average
    for r in out:
        if r["trend_e2"] is None:
            assert r["seasonal_e2"] is None and r["remainder_e2"] is None
    assert sum(1 for r in out if r["trend_e2"] is None) == 2 * STL_HALF


def test_weekly_pattern_recovered_exactly(spark):
    """rev_t = base + s[t mod 7] with Σs = 0: any full 7-day window
    sums to 7·base, so trend ≡ base and the day-of-week means recover
    s exactly; remainder must be 0 (s values chosen ×100-exact so the
    e2 floors are lossless)."""
    base = 5000
    s = [21, -14, 7, 0, -21, 14, -7]  # sums to zero
    n = 35
    revs = [base + s[i % 7] for i in range(n)]
    out = stl_decompose(_daily(spark, revs)).collect()
    interior = [r for r in out if r["trend_e2"] is not None]
    assert len(interior) == n - 2 * STL_HALF
    for r in interior:
        assert r["trend_e2"] == 100 * base
        assert r["seasonal_e2"] == 100 * (r["rev"] - base)
        assert r["remainder_e2"] == 0


def test_impulse_lands_in_remainder_not_seasonal(spark):
    """A one-day spike on an otherwise flat series must show up in the
    remainder (and dilute the trend for the 7 windows containing it),
    not be memorized as seasonality — the seasonal component averages
    over ≥2 occurrences of the spike's weekday, so its per-day share is
    bounded by spike·7/(7·n_dow) < spike."""
    base, spike, n = 1000, 700, 35
    revs = [base] * n
    spike_i = 17
    revs[spike_i] += spike
    rows = {r["day"]: r for r in stl_decompose(_daily(spark, revs)).collect()}
    days = sorted(rows)
    r_spike = rows[days[spike_i]]
    # the spike day's remainder keeps most of the spike
    assert r_spike["remainder_e2"] > 100 * spike // 2
    # no seasonal coefficient exceeds the diluted bound
    n_dow_min = 2  # 29 interior days -> every weekday occurs >= 2 times
    bound = 100 * spike // n_dow_min + 100
    for r in rows.values():
        if r["seasonal_e2"] is not None:
            assert abs(r["seasonal_e2"]) <= bound
    # decomposition identity holds wherever defined
    for r in rows.values():
        if r["trend_e2"] is not None:
            assert (
                r["trend_e2"] + r["seasonal_e2"] + r["remainder_e2"]
                == 100 * r["rev"]
            )
