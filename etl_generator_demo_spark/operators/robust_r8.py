"""Round-8 robust statistics and window-surface extensions.

- Winsorized / trimmed statistics: the robust-mean pair every metrics
  pipeline wants next to plain AVG (one window pass + one aggregate —
  the winsorized sum is reconstructed from the trimmed sum and the two
  clamp boundaries, never a second clamped scan).
- Theil–Sen slope: the robust companion to `a_regr_slope_revenue` and
  the Mann–Kendall/CUSUM/STL monitor kit — median of pairwise slopes
  over the day lattice (calendar-bounded: the pair join grows with
  days², not data).
- Trailing-window COUNT DISTINCT: Spark windows cannot express
  COUNT(DISTINCT) over a frame; the scalable spelling is
  explode-to-target-days + one groupBy (each event lands in exactly
  `width` buckets — shuffle carries (day, user) pairs, no range join).
- Hour-of-week seasonality profile with full 7×24 grid completion.

Exactness: fixed-point cents/e6 integers; the only float ops are
FLOOR(int/int) scalings and sqrt-of-exact-int (IEEE-identical in both
engines); negative-capable floor divisions use the pmod idiom
(a − pmod(a, b)) div b so Spark's `div` truncation can never diverge
from floor semantics.

Reference parity: the reference exposes these tables to its NL→SQL
users (`/root/reference/sample_metadata.py`) and delegates all
computation to PostgreSQL; here each analysis is a first-class,
oracle-checked engine operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..session import checkpoint_with
from .relational import t

# ---------------------------------------------------------------------------
# X4: winsorized / trimmed robust statistics
# ---------------------------------------------------------------------------

@register(
    "x4_winsorized_stats",
    oracle="""
    WITH v AS (
        SELECT event_type, event_id,
               CAST(FLOOR(value * 100) AS BIGINT) AS c2,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY CAST(FLOOR(value * 100) AS BIGINT),
                                           event_id) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM events
    ),
    k AS (
        SELECT *, n * 5 // 100 AS k_lo FROM v
    ),
    agg AS (
        SELECT event_type, MAX(n) AS n, MAX(k_lo) AS k_lo,
               MAX(CASE WHEN rn = k_lo + 1 THEN c2 END) AS p05_c2,
               MAX(CASE WHEN rn = n - k_lo THEN c2 END) AS p95_c2,
               CAST(SUM(CASE WHEN rn > k_lo AND rn <= n - k_lo THEN c2 END)
                    AS BIGINT) AS sum_mid
        FROM k GROUP BY event_type
    )
    SELECT event_type, n, p05_c2, p95_c2,
           CAST(FLOOR((sum_mid + k_lo * (p05_c2 + p95_c2))
                      / CAST(n AS DOUBLE)) AS BIGINT) AS winsorized_mean_c2,
           CAST(FLOOR(sum_mid / CAST(n - 2 * k_lo AS DOUBLE)) AS BIGINT)
               AS trimmed_mean_c2
    FROM agg ORDER BY event_type
    """,
    survey_ids=("X4", "W1", "A1"),
)
def x4_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized and 5%-trimmed mean of event value per type — the
    robust pair next to plain AVG (one outlier can move a mean
    arbitrarily; winsorizing clamps to the p05/p95 order statistics,
    trimming drops beyond them). Boundaries are exact order statistics
    (rank k_lo+1 and n−k_lo under a (value, event_id) total order —
    percentile_disc semantics, no interpolation, so both engines pick
    the same element). The winsorized sum is reconstructed as
    sum_mid + k_lo·(p05+p95) from ONE window pass + ONE aggregate —
    never a second clamped scan. Cents fixed-point throughout; the two
    FLOOR(int/double-int) scalings are the only float ops."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("c2", "event_id")
    wp = Window.partitionBy("event_type")
    v = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("c2"),
    ).select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    k = v.withColumn("k_lo", F.expr("n * 5 div 100"))
    agg = k.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("k_lo").alias("k_lo"),
        F.max(F.when(F.col("rn") == F.col("k_lo") + 1, F.col("c2"))).alias(
            "p05_c2"
        ),
        F.max(
            F.when(F.col("rn") == F.col("n") - F.col("k_lo"), F.col("c2"))
        ).alias("p95_c2"),
        F.sum(
            F.when(
                (F.col("rn") > F.col("k_lo"))
                & (F.col("rn") <= F.col("n") - F.col("k_lo")),
                F.col("c2"),
            )
        )
        .cast("long")
        .alias("sum_mid"),
    )
    return agg.select(
        "event_type",
        "n",
        "p05_c2",
        "p95_c2",
        F.floor(
            (
                F.col("sum_mid")
                + F.col("k_lo") * (F.col("p05_c2") + F.col("p95_c2"))
            ).cast("double")
            / F.col("n").cast("double")
        )
        .cast("long")
        .alias("winsorized_mean_c2"),
        F.floor(
            F.col("sum_mid").cast("double")
            / (F.col("n") - 2 * F.col("k_lo")).cast("double")
        )
        .cast("long")
        .alias("trimmed_mean_c2"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# X4: Theil–Sen robust trend
# ---------------------------------------------------------------------------

@register(
    "x4_theil_sen_trend",
    oracle="""
    WITH daily AS MATERIALIZED (
        SELECT CAST(ts AS DATE) AS day,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d_e,
               CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS rev
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.d_e AS d1, b.d_e AS d2,
               (b.rev - a.rev) * 1000000 AS num,
               b.d_e - a.d_e AS den
        FROM daily a JOIN daily b ON a.d_e < b.d_e
    ),
    slopes AS (
        SELECT d1, d2,
               (num - ((num % den + den) % den)) // den AS slope_e6
        FROM pairs
    ),
    ranked AS (
        SELECT slope_e6,
               ROW_NUMBER() OVER (ORDER BY slope_e6, d1, d2) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_pairs
        FROM slopes
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           n_pairs,
           CAST(slope_e6 AS BIGINT) AS theil_sen_slope_e6
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    """,
    survey_ids=("X4", "J7", "A2"),
)
def x4_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator of the daily purchase-revenue trend: the
    median of all pairwise slopes (rev_j − rev_i)/(day_j − day_i) —
    robust to ~29% outliers where the OLS slope
    (`a_regr_slope_revenue`) is robust to none; completes the
    Mann–Kendall/CUSUM/ACF/STL monitor kit. The pair join is over the
    DAY lattice (calendar-bounded: days², not data², — the documented
    lattice-bounded class; 10 years is ~6.7M pairs on any data size).
    Slopes are e6 fixed-point via the pmod floor-division idiom
    ((num − pmod(num, den)) div den — exact floor for negative
    numerators in both engines, where Spark's `div` alone truncates
    toward zero); the median is the lower-median order statistic under
    a (slope, d1, d2) total order — deterministic element selection,
    no interpolation. Selection is DISTRIBUTED (r8 advice — never
    collect the ~n²/2 pair array into one task): range-partition the
    slopes by the total order, count per partition (≤P rows to the
    driver), locate the partition holding global rank ⌈n/2⌉ from the
    cumulative counts, then row_number only within that one
    partition — each task holds ~1/P of the pairs, so the 10-year
    lattice's ~6.7M pairs never sort in a single executor.

    Empty-case contract (r9 advice, deliberate): with <2 distinct days
    there are no pairwise slopes and BOTH engines return 0 rows (the
    oracle's `ranked` CTE is empty, so its final SELECT emits nothing;
    the Spark side short-circuits to an empty DataFrame on n_pairs=0).
    This replaced the pre-r9 single-row (n_days, 0, NULL) shape — a
    slope estimator with no pairs has no estimate, and an absent row
    is the honest spelling; pinned by
    tests/test_robust_stats.py::test_theil_sen_empty_case_contract."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily, (n_days,) = checkpoint_with(  # |days| rows: bounded lattice
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.floor("value").cast("long")).cast("long").alias("rev"))
        .select(
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("d_e"),
            "rev",
        ),
        F.count(F.lit(1)),
    )
    a = daily.select(F.col("d_e").alias("d1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("d_e").alias("d2"), F.col("rev").alias("r2"))
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        "d1",
        "d2",
        ((F.col("r2") - F.col("r1")) * 1_000_000).alias("num"),
        (F.col("d2") - F.col("d1")).alias("den"),
    )
    slopes = pairs.select(
        "d1",
        "d2",
        F.expr("(num - pmod(num, den)) div den").alias("slope_e6"),
    )
    schema = "n_days long, n_pairs long, theil_sen_slope_e6 long"
    # localCheckpoint pins the sampled range boundaries and partition
    # ids so the count job and the selection job see the same layout
    parts = (
        slopes.repartitionByRange(32, "slope_e6", "d1", "d2")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        parts.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect(),
        key=lambda r: r["pid"],
    )  # bounded: ≤32 rows (one per range partition)
    n_pairs = sum(int(r["c"]) for r in counts)
    if n_pairs == 0:
        return spark.createDataFrame([], schema=schema)
    k = (n_pairs + 1) // 2
    acc = 0
    for r in counts:  # locate the range partition holding global rank k
        if acc + int(r["c"]) >= k:
            sel_pid, local_k = int(r["pid"]), k - acc
            break
        acc += int(r["c"])
    w_sel = Window.partitionBy("pid").orderBy("slope_e6", "d1", "d2")
    return (
        parts.filter(F.col("pid") == sel_pid)
        .withColumn("rn", F.row_number().over(w_sel))
        .filter(F.col("rn") == local_k)
        .select(
            F.lit(n_days).cast("long").alias("n_days"),
            F.lit(n_pairs).cast("long").alias("n_pairs"),
            F.col("slope_e6").cast("long").alias("theil_sen_slope_e6"),
        )
    )


# ---------------------------------------------------------------------------
# W: trailing-window COUNT DISTINCT
# ---------------------------------------------------------------------------

@register(
    "w_sliding_distinct_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    x AS (
        SELECT CAST(UNNEST(GENERATE_SERIES(d, d + 6, INTERVAL 1 DAY)) AS DATE)
                   AS day,
               user_id
        FROM ud
    )
    SELECT x.day, CAST(COUNT(DISTINCT x.user_id) AS BIGINT) AS users_7d
    FROM x JOIN days ON days.d = x.day
    GROUP BY x.day ORDER BY x.day
    """,
    survey_ids=("W3", "A3"),
)
def w_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day — the windowed
    COUNT(DISTINCT) Spark window frames cannot express (and a naive
    range self-join would re-scan the fact table per day). Scalable
    spelling: collapse to distinct (day, user) once, explode each
    activity day to the ≤7 target days it contributes to, then ONE
    distinct aggregate — the shuffle carries (day, user) pairs with a
    constant ×7 fan-out, independent of event volume per user-day.
    Target days are restricted to the observed day grid (semi join
    against the |days|-bounded lattice)."""
    ev = t(spark, sf_dir, "events")
    ud = (
        ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    )
    days = ud.select("d").distinct()
    x = ud.select(
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), 6), F.expr("interval 1 day")
            )
        ).alias("day"),
        "user_id",
    )
    return (
        x.join(
            F.broadcast(days.withColumnRenamed("d", "day")), "day", "semi"
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("users_7d"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# X4: hour-of-week seasonality profile
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
