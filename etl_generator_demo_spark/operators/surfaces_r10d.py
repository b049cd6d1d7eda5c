"""Round-10 batch 4: verbatim SQL-surface pins.

- RANGE BETWEEN INTERVAL window frame, ONE SQL text verbatim on Spark
  and DuckDB (the ``a_group_by_all_revenue`` discipline): pins that
  both engines resolve calendar-interval range frames over a timestamp
  ORDER BY identically — boundary inclusion, peer handling, and the
  interval arithmetic itself. The DataFrame-API spelling of the same
  frame (`x4_rolling_7d_user_spend`) covers the micro-epoch
  rangeBetween path; this pins the SQL-surface path.
- VALUES inline table, same text verbatim: the seed-a-dim-inline
  surface every migration script uses (tier thresholds, code lookups)
  — joined as a range-bucketing dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .relational import t

#: One SQL text, run verbatim on BOTH engines (only the view binding
#: differs). Output stays bounded: per-customer trailing spend rolled
#: up to the per-customer MAX so the result is |customers| rows.
_RANGE_INTERVAL_SQL = """
    WITH rolled AS (
        SELECT o_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS spend_30d_c2
        FROM orders
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MAX(spend_30d_c2) AS BIGINT) AS peak_30d_spend_c2
    FROM rolled
    GROUP BY o_custkey
    ORDER BY peak_30d_spend_c2 DESC, o_custkey
    LIMIT 25
"""


@register(
    "w_range_interval_verbatim",
    oracle=_RANGE_INTERVAL_SQL,
    survey_ids=("W3", "F4", "O4"),
)
def w_range_interval_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval RANGE frame, one SQL text verbatim on both
    engines: each order's trailing-30-day customer spend (inclusive
    frame ends AT the current order), rolled up to the per-customer
    peak — the burst-spend detector. Pins Spark's interval-range frame
    semantics (peer rows, boundary inclusion, date arithmetic) against
    DuckDB's character-for-character; sums are integer cents inside
    the window so the comparison cannot wobble.

    Plan at scale: one customer-keyed window pass (the range frame
    slides within each partition — no self-join), one map-combined
    rollup, TakeOrdered top-25."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RANGE_INTERVAL_SQL)


_VALUES_SQL = """
    SELECT tiers.tier_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS sum_bal_c2
    FROM customer
    JOIN (VALUES ('debt', -100000.0, 0.0),
                 ('low', 0.0, 2000.0),
                 ('mid', 2000.0, 6000.0),
                 ('high', 6000.0, 100000.0))
         AS tiers(tier_name, lo, hi)
      ON c_acctbal >= tiers.lo AND c_acctbal < tiers.hi
    GROUP BY tiers.tier_name
    ORDER BY tiers.tier_name
"""


@register(
    "u_values_inline_table",
    oracle=_VALUES_SQL,
    survey_ids=("U2", "J7", "A1"),
)
def u_values_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES inline-table surface, one SQL text verbatim on both
    engines: a 4-row balance-tier dimension declared inline (the
    seed-a-lookup-inline idiom of every migration/report script),
    range-joined to customers, one rollup per tier. Pins that Spark's
    inline-table parsing, aliasing (``AS t(cols...)``), float literal
    typing, and half-open range-join semantics match DuckDB's.

    Plan at scale: the 4-row VALUES relation broadcasts into a
    BroadcastNestedLoopJoin (range condition — no equi key), which is
    the correct physical choice for a literal dim; one map-combined
    rollup after."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_VALUES_SQL)


# ---------------------------------------------------------------------------
# arbitrary-interval time bucketing (date_bin / time_bucket surface)
# ---------------------------------------------------------------------------

@register(
    "f_time_bucket_15min",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS revenue_c2
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY bucket_start
    ORDER BY bucket_start
    LIMIT 100
    """,
    survey_ids=("F4", "A1", "F2"),
)
def f_time_bucket_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-interval time bucketing: purchase counts/revenue per
    15-minute bucket — the batch twin of the streaming tumbling window
    and the `date_bin`/`time_bucket` SQL surface (`date_trunc` only
    reaches calendar units; 15 min needs interval bucketing). Spark
    spells it `window(ts, '15 minutes').start`; DuckDB natively as
    `time_bucket(INTERVAL '15 minutes', ts)`. The two align: Spark's
    windows anchor at the 1970-01-01 epoch, DuckDB's sub-day buckets
    at 2000-01-01, and the 10957-day offset between the anchors is an
    exact multiple of 15 minutes — pinned here so a drift in either
    engine's anchoring convention fails loudly.

    Plan at scale: the bucket expression is scan-side arithmetic; one
    map-combined groupBy; first-100 buckets via the ordered limit."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "15 minutes")["start"]
            .alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("revenue_c2"),
        )
        .orderBy("bucket_start")
        .limit(100)
    )
