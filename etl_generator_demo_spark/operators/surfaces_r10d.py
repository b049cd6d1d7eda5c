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
# ANALYZE TABLE: per-column statistics in one scan
# ---------------------------------------------------------------------------

#: (column, kind) pairs for the lineitem stats sweep. `kind` fixes the
#: canonical BIGINT encoding so min/max/NDV are engine-exact: ints
#: as-is, dates as days-since-epoch, doubles as floor-cents, strings
#: carry NDV only (no total order is asserted across collations).
_ANALYZE_COLS = (
    ("l_orderkey", "int"),
    ("l_partkey", "int"),
    ("l_suppkey", "int"),
    ("l_linenumber", "int"),
    ("l_quantity", "cents"),
    ("l_extendedprice", "cents"),
    ("l_discount", "cents"),
    ("l_tax", "cents"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "date"),
)


def _analyze_oracle() -> str:
    arms = []
    for c, kind in _ANALYZE_COLS:
        if kind == "int":
            ival, sval = f"CAST({c} AS BIGINT)", "NULL"
        elif kind == "cents":
            ival, sval = f"CAST(FLOOR({c} * 100) AS BIGINT)", "NULL"
        elif kind == "date":
            ival = f"CAST(CAST({c} AS DATE) - DATE '1970-01-01' AS BIGINT)"
            sval = "NULL"
        else:
            ival, sval = "NULL", c
        arms.append(
            f"SELECT '{c}' AS column_name, {ival} AS ival,"
            f" CAST({sval} AS VARCHAR) AS sval FROM lineitem"
        )
    return f"""
    WITH unpivoted AS ({" UNION ALL ".join(arms)})
    SELECT column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE ival IS NULL AND sval IS NULL)
                AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT COALESCE(CAST(ival AS VARCHAR), sval))
                AS BIGINT) AS n_distinct,
           CAST(MIN(ival) AS BIGINT) AS min_encoded,
           CAST(MAX(ival) AS BIGINT) AS max_encoded
    FROM unpivoted
    GROUP BY column_name
    ORDER BY column_name
    """


@register(
    "d_analyze_table_stats",
    oracle=_analyze_oracle(),
    survey_ids=("S5", "A3", "A2", "F3"),
)
def d_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE lineitem: per-column row count, null count, exact
    NDV, and min/max under a canonical BIGINT encoding (ints as-is,
    dates as epoch days, monetary doubles as floor-cents; strings
    report NDV only) — the statistics a cost-based optimizer feeds on,
    and the freshness-audit a lakehouse runs after large loads.

    Plan: the table unpivots at the scan into (column, encoded-value)
    pairs — ONE pass over the data regardless of column count (vs the
    naive 11 COUNT(DISTINCT) aggregates whose Expand plan was
    documented at `a_multi_distinct`) — then one column-keyed
    aggregate; the shuffle carries one row per (column, value) for the
    distinct and partial min/max/counts beside it. At 100 TB the NDV
    tier swaps to HLL per column (`a_approx_distinct`'s sketch path),
    same plan shape."""
    li = t(spark, sf_dir, "lineitem")
    arms = []
    for c, kind in _ANALYZE_COLS:
        if kind == "int":
            ival, sval = F.col(c).cast("long"), F.lit(None).cast("string")
        elif kind == "cents":
            ival = F.floor(F.col(c) * 100).cast("long")
            sval = F.lit(None).cast("string")
        elif kind == "date":
            ival = F.datediff(
                F.col(c).cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("long")
            sval = F.lit(None).cast("string")
        else:
            ival = F.lit(None).cast("long")
            sval = F.col(c).cast("string")
        arms.append(
            F.struct(
                F.lit(c).alias("column_name"),
                ival.alias("ival"),
                sval.alias("sval"),
            )
        )
    unpivoted = li.select(
        F.explode(F.array(*arms)).alias("u")
    ).select("u.column_name", "u.ival", "u.sval")
    return (
        unpivoted.groupBy("column_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(
                F.when(F.col("ival").isNull() & F.col("sval").isNull(), 1)
            )
            .cast("long")
            .alias("n_nulls"),
            F.count_distinct(
                F.coalesce(F.col("ival").cast("string"), F.col("sval"))
            )
            .cast("long")
            .alias("n_distinct"),
            F.min("ival").cast("long").alias("min_encoded"),
            F.max("ival").cast("long").alias("max_encoded"),
        )
        .orderBy("column_name")
    )


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
