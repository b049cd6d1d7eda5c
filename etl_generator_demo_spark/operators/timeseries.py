"""Time-series operators over the events table.

The first two reduce the events table to one row per calendar day (one
map-combined rollup, the only full-data pass) and then work on that
|days|-bounded lattice:

- ``x4_stl_daily_revenue``: STL-lite decomposition — trend = centered
  7-day moving average, seasonal = day-of-week means of the detrended
  series, remainder = the rest. It completes the time-series monitor
  kit in ``analytics_ext.py`` (Mann-Kendall trend, CUSUM level shifts,
  ACF periodicity). ``stl_decompose`` is the core over any (day, rev)
  relation.
- ``x4_holt_linear_forecast``: Holt's linear (level + trend)
  exponential smoothing in exact dyadic fixed point, plus the
  HOLT_H-day-ahead forecast. With α=1/2, β=1/4 every update is an
  integer floor division, so the recursion is exact in int64 cents:

      l_t = ⌊(y_t + l_{t-1} + b_{t-1}) / 2⌋           (α = 1/2)
      b_t = ⌊(3·b_{t-1} + (l_t − l_{t-1})) / 4⌋        (β = 1/4)
      l_1 = y_1,  b_1 = 0

  Floor (not truncating) division is required in BOTH engines — the
  trend numerator goes negative on downswings. DuckDB's integer ``//``
  TRUNCATES toward zero (``-7 // 2 = -3``, not Python's ``-4``), which
  is why the oracle spells division with the pmod idiom: it subtracts
  ``pmod(numerator, divisor)`` first so every division is an exact
  multiple — floor and truncate then agree. Do NOT "simplify" the
  pmod away as redundant; without it the oracle diverges on negatives.
- ``x4_hour_dow_seasonality``: the 7×24 hour-of-week activity profile
  with full grid completion.

Exactness: every output is an integer fixed-point value (e2 or cents)
computed from exact integer sums, so the DuckDB oracles replay them
value for value. Reference grounding: revenue-trend questions are the
reference demo's headline NL queries (sql_generator.py demo
templates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .relational import t

#: Centered moving-average half-width: 7-day trend window.
STL_HALF = 3


@register(
    "x4_stl_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS rev
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    seq AS (
        SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS idx,
               CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS dow_idx
        FROM daily
    ),
    tr AS (
        SELECT day, rev, idx, dow_idx,
               CAST(SUM(rev) OVER w7 AS BIGINT) AS sum7,
               CAST(COUNT(*) OVER w7 AS BIGINT) AS n7
        FROM seq
        WINDOW w7 AS (ORDER BY idx
                      ROWS BETWEEN {STL_HALF} PRECEDING
                               AND {STL_HALF} FOLLOWING)
    ),
    det AS (
        SELECT *, CASE WHEN n7 = {2 * STL_HALF + 1}
                       THEN {2 * STL_HALF + 1} * rev - sum7 END AS detr7
        FROM tr
    ),
    seas AS (
        SELECT dow_idx,
               CAST(SUM(detr7) AS BIGINT) AS s_sum,
               CAST(COUNT(detr7) AS BIGINT) AS s_n
        FROM det WHERE detr7 IS NOT NULL
        GROUP BY dow_idx
    )
    SELECT d.day, d.rev,
           CASE WHEN d.n7 = {2 * STL_HALF + 1}
                THEN CAST(FLOOR(100.0 * d.sum7 / {2 * STL_HALF + 1}) AS BIGINT)
           END AS trend_e2,
           CASE WHEN d.n7 = {2 * STL_HALF + 1}
                THEN CAST(FLOOR(100.0 * s.s_sum
                                / ({2 * STL_HALF + 1} * s.s_n)) AS BIGINT)
           END AS seasonal_e2,
           CASE WHEN d.n7 = {2 * STL_HALF + 1}
                THEN 100 * d.rev
                     - CAST(FLOOR(100.0 * d.sum7 / {2 * STL_HALF + 1}) AS BIGINT)
                     - CAST(FLOOR(100.0 * s.s_sum
                                  / ({2 * STL_HALF + 1} * s.s_n)) AS BIGINT)
           END AS remainder_e2
    FROM det d
    LEFT JOIN seas s ON s.dow_idx = d.dow_idx
    ORDER BY d.day
    """,
    survey_ids=("W3", "A1", "F4", "U1"),
)
def x4_stl_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of the daily purchase-revenue
    series: trend = centered 7-day moving average over the observed-day
    sequence, seasonal = day-of-week means of the detrended series,
    remainder = what's left — joining Mann-Kendall (trend direction),
    CUSUM (level shifts) and ACF (periodicity) to complete the
    time-series monitor kit in analytics_ext.py. Exactness: the
    detrended series is carried ×7 (detr7 = 7·rev − sum7, an exact
    BIGINT — the n-scaled-deviation trick from CUSUM/ACF), day-of-week
    comes from epoch-day arithmetic (both engines' DOW builtins
    disagree on numbering), and the only float ops are two
    FLOOR(100.0·int/int) scalings whose operands are exact — so the e2
    fixed-point outputs cannot drift. Edge days without a full 7-day
    window carry NULL components, never a shortened average. The day
    grid is |days|-bounded (the documented lattice-bounded window
    class); the one full-data pass is the daily rollup."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy(F.to_date(F.col("ts").cast("timestamp")).alias("day"))
        .agg(F.sum(F.floor("value").cast("long")).cast("long").alias("rev"))
        .localCheckpoint(eager=True)
    )
    return stl_decompose(daily)


def stl_decompose(daily: DataFrame) -> DataFrame:
    """STL-lite core over a (day, rev) relation — split out so the
    closed-form pytest anchors (pure-linear series → zero seasonal and
    remainder; pure-weekly series → exact seasonal recovery) can run it
    on synthetic inputs."""
    width = 2 * STL_HALF + 1
    seq = daily.select(
        "day",
        "rev",
        F.row_number().over(Window.orderBy("day")).alias("idx"),
        (F.datediff("day", F.lit("1970-01-01")).cast("long") % 7).alias(
            "dow_idx"
        ),
    )
    w7 = Window.orderBy("idx").rowsBetween(-STL_HALF, STL_HALF)
    tr = seq.select(
        "day",
        "rev",
        "dow_idx",
        F.sum("rev").over(w7).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("n7"),
    )
    det = tr.withColumn(
        "detr7",
        F.when(F.col("n7") == width, width * F.col("rev") - F.col("sum7")),
    )
    seas = (
        det.filter(F.col("detr7").isNotNull())
        .groupBy("dow_idx")
        .agg(
            F.sum("detr7").cast("long").alias("s_sum"),
            F.count("detr7").cast("long").alias("s_n"),
        )
    )
    trend_e2 = F.floor(100.0 * F.col("sum7") / width).cast("long")
    seasonal_e2 = F.floor(
        100.0 * F.col("s_sum") / (width * F.col("s_n"))
    ).cast("long")
    full = F.col("n7") == width
    return (
        det.join(F.broadcast(seas), "dow_idx", "left")
        .select(
            "day",
            "rev",
            F.when(full, trend_e2).alias("trend_e2"),
            F.when(full, seasonal_e2).alias("seasonal_e2"),
            F.when(
                full, 100 * F.col("rev") - trend_e2 - seasonal_e2
            ).alias("remainder_e2"),
        )
        .orderBy("day")
    )


#: Forecast horizon (days ahead from the last observed day).
HOLT_H = 7


def _pdiv(num: str, den: int) -> str:
    """Floor division in portable SQL via the pmod idiom (den > 0)."""
    return f"(({num}) - ((({num}) % {den} + {den}) % {den})) // {den}"


def _holt_oracle() -> str:
    num_l = "s.y + h.l + h.b"
    l_t = _pdiv(num_l, 2)
    num_b = f"3 * h.b + (({l_t}) - h.l)"
    return f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    seq AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    hw AS (
        SELECT CAST(1 AS BIGINT) AS rn, s.y AS l, CAST(0 AS BIGINT) AS b
        FROM seq s WHERE s.rn = 1
        UNION ALL
        SELECT h.rn + 1,
               CAST({l_t} AS BIGINT),
               CAST({_pdiv(num_b, 4)} AS BIGINT)
        FROM hw h JOIN seq s ON s.rn = h.rn + 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM seq) AS n_days,
           CAST(l AS BIGINT) AS level_c2,
           CAST(b AS BIGINT) AS trend_c2,
           CAST(l + {HOLT_H} * b AS BIGINT) AS forecast_{HOLT_H}d_c2
    FROM hw WHERE rn = (SELECT MAX(rn) FROM seq)
    """


def holt_linear(series: list[int]) -> tuple[int, int]:
    """(level, trend) after running the dyadic Holt recursion over an
    ordered integer series. Python ``//`` floors (including negative
    trend numerators), matching the oracle's pmod spelling exactly."""
    level, trend = series[0], 0
    for y in series[1:]:
        new_level = (y + level + trend) // 2
        trend = (3 * trend + (new_level - level)) // 4
        level = new_level
    return level, trend


@register(
    "x4_holt_linear_forecast",
    oracle=_holt_oracle(),
    survey_ids=("X4", "A1", "U1", "F4"),
)
def x4_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over daily purchase
    revenue (cents), dyadic α=1/2 / β=1/4 exact fixed point, plus the
    h=7-day-ahead forecast ``l + 7·b``. One summary row: n_days,
    final level, final trend, forecast.

    Scale: the distributed work is the one map-combined daily rollup;
    the recursion then runs over the CALENDAR lattice (|days| rows —
    ten years is ~3.7k steps), an inherently sequential scan that is
    collected and solved driver-side exactly like the Markov/k-means
    bounded model fetch (`x4_markov_attribution`'s transition-matrix
    collect in stats.py — the bound is the
    calendar, not the data). The oracle replays the identical
    recursion as a recursive CTE; tests/test_forecast_holt.py anchors
    the recursion closed-form."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
        .orderBy("day")
        .collect()  # bounded: one row per calendar day (lattice fetch)
    )
    schema = (
        f"n_days long, level_c2 long, trend_c2 long, "
        f"forecast_{HOLT_H}d_c2 long"
    )
    if not daily:
        return spark.createDataFrame([], schema=schema)
    series = [int(r["y"]) for r in daily]
    level, trend = holt_linear(series)
    return spark.createDataFrame(
        [(len(series), level, trend, level + HOLT_H * trend)], schema=schema
    )


# ---------------------------------------------------------------------------
# Hour-of-week seasonality profile
# ---------------------------------------------------------------------------

@register(
    "x4_hour_dow_seasonality",
    oracle="""
    WITH obs AS (
        SELECT CAST(ISODOW(ts) - 1 AS BIGINT) AS dow,
               CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM obs),
    grid AS (
        SELECT CAST(d AS BIGINT) AS dow, CAST(h AS BIGINT) AS hour
        FROM UNNEST(GENERATE_SERIES(0, 6)) t1(d),
             UNNEST(GENERATE_SERIES(0, 23)) t2(h)
    )
    SELECT g.dow, g.hour,
           COALESCE(o.n_events, 0) AS n_events,
           COALESCE(o.n_events, 0) * 1000000 // tot.total AS share_e6
    FROM grid g LEFT JOIN obs o ON o.dow = g.dow AND o.hour = g.hour
    CROSS JOIN tot
    ORDER BY g.dow, g.hour
    """,
    survey_ids=("X4", "A1", "F4"),
)
def x4_hour_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week activity profile (7×24 heatmap): event share per
    (ISO weekday, hour) cell with FULL grid completion — absent cells
    emit 0, so a monitoring consumer always sees 168 rows (the
    grid-completion idiom: cross-join two bounded lattices, left-join
    observed counts). Weekday numbering pinned to ISO-Monday=0 via
    Spark `weekday()` == DuckDB `ISODOW−1` (both engines' default DOW
    builtins disagree on numbering — same pin as the STL seasonal
    component). Shares are e6 integer-floored against the global
    total."""
    ev = t(spark, sf_dir, "events")
    obs = (
        ev.groupBy(
            F.weekday("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .localCheckpoint()  # ≤168 cells
    )
    tot = obs.agg(F.sum("n_events").cast("long").alias("total"))
    grid = (
        spark.range(7)
        .select(F.col("id").alias("dow"))
        .crossJoin(spark.range(24).select(F.col("id").alias("hour")))
    )
    return (
        grid.join(F.broadcast(obs), ["dow", "hour"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias(
                "n_events"
            ),
            F.expr(
                "CAST(coalesce(n_events, 0) * 1000000 div total AS BIGINT)"
            ).alias("share_e6"),
        )
        .orderBy("dow", "hour")
    )
