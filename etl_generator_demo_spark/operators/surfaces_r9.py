"""Round-9 SQL-surface and analytics extensions.

- QUALIFY (SQL:2023 / Snowflake / DuckDB window filter): Spark has no
  QUALIFY clause; the engine rewrite is window-then-filter. Pinned
  hash-exact against DuckDB's native QUALIFY text, with the comparison
  carried in exact integer cents so a float average can never flip it.
- BFS hop distance from the hub part: exact single-source shortest
  hops over the co-purchase graph — frontier expansion with min-hop
  aggregation, fixed unrolled oracle rounds (the LPA/WCC idiom).

Reference parity: all reachable analyses for the reference's NL->SQL
users (``/root/reference/sql_generator.py`` emits arbitrary SQL over
``sample_metadata.py``'s join graph); the reference delegates the math
to PostgreSQL — here each is a first-class engine operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .relational import t


@register(
    "w_qualify_above_customer_avg",
    oracle="""
    WITH kept AS (
        SELECT o_orderpriority,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c2
        FROM orders
        QUALIFY CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                    * COUNT(*) OVER (PARTITION BY o_custkey)
                > SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                    OVER (PARTITION BY o_custkey)
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_above_avg,
           CAST(SUM(price_c2) AS BIGINT) AS sum_above_c2
    FROM kept
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    survey_ids=("W3", "P6", "A1"),
)
def w_qualify_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-surface parity: orders strictly above their customer's
    average price, rolled up per priority. The oracle is DuckDB's
    NATIVE ``QUALIFY`` clause (filter on a window aggregate without a
    subquery — the spelling Snowflake/BigQuery users reach for); Spark
    has no QUALIFY, so the engine rewrite is the window-then-filter
    composition Catalyst plans as one window exchange + filter.

    Exactness: 'above average' is evaluated as
    ``price_c2 * n > sum_c2`` in integer cents — algebraically
    identical to ``price > avg`` but immune to the last-ulp double
    wobble a literal AVG comparison risks when a price sits exactly on
    the mean. One keyed window shuffle + one map-combined rollup."""
    w = Window.partitionBy("o_custkey")
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_c2"),
    )
    kept = o.select(
        "o_orderpriority",
        "price_c2",
        (F.col("price_c2") * F.count(F.lit(1)).over(w)).alias("lhs"),
        F.sum("price_c2").over(w).alias("rhs"),
    ).filter(F.col("lhs") > F.col("rhs"))
    return (
        kept.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_above_avg"),
            F.sum("price_c2").cast("long").alias("sum_above_c2"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "o_distinct_on_latest_order",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS latest_date,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c2
    FROM (
        SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate,
               o_totalprice
        FROM orders
        ORDER BY o_custkey, CAST(o_orderdate AS DATE) DESC, o_orderkey DESC
    )
    ORDER BY o_custkey
    """,
    survey_ids=("O1", "W1", "A1"),
)
def o_distinct_on_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DISTINCT ON`` parity — the PostgreSQL-ism the reference's
    users actually type (the reference IS a Postgres front end,
    ``/root/reference/db_connector.py``; DuckDB inherits the syntax):
    latest order per customer, ties to the larger orderkey. Spark has
    no DISTINCT ON; the engine rewrite is the row_number-equals-1
    window — Catalyst plans one keyed window exchange and
    InferWindowGroupLimit prunes non-first rows before the filter, so
    the rewrite costs exactly the keyed shuffle the semantics imply."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date").desc(), F.col("o_orderkey").desc()
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("latest_date"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_c2"),
        )
        .orderBy("o_custkey")
    )


@register(
    "w_frame_exclude_current",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_custkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c2,
               SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER (
                   PARTITION BY o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                   EXCLUDE CURRENT ROW) AS peer_sum_c2,
               COUNT(*) OVER (
                   PARTITION BY o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                   EXCLUDE CURRENT ROW) AS peer_n
        FROM orders
    )
    SELECT o_orderkey, o_custkey, price_c2,
           CAST(peer_n AS BIGINT) AS peer_n,
           CAST(peer_sum_c2 AS BIGINT) AS peer_sum_c2,
           CASE WHEN peer_n > 0 THEN price_c2 * peer_n > peer_sum_c2 END
               AS above_peers
    FROM base
    ORDER BY o_orderkey
    """,
    survey_ids=("W3", "F1"),
)
def w_frame_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2016 frame exclusion parity (``EXCLUDE CURRENT ROW``): each
    order against the sum/count of its customer's OTHER orders — the
    leave-one-out peer comparison (is this order above its peers,
    judged without letting it drag its own average?). The oracle uses
    DuckDB's native EXCLUDE clause; Spark has no frame exclusion, so
    the engine rewrite subtracts the current row from the full-frame
    aggregates — algebraically identical for SUM/COUNT, one keyed
    window either way. A customer's only order has NO peers: peer_sum
    is NULL (empty frame) and the verdict is NULL, reproduced exactly
    by the rewrite's conditional."""
    w = Window.partitionBy("o_custkey")
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_c2"),
    )
    withf = base.select(
        "o_orderkey",
        "o_custkey",
        "price_c2",
        (F.count(F.lit(1)).over(w) - 1).cast("long").alias("peer_n"),
        (F.sum("price_c2").over(w) - F.col("price_c2")).alias("full_minus"),
    )
    return withf.select(
        "o_orderkey",
        "o_custkey",
        "price_c2",
        "peer_n",
        F.when(F.col("peer_n") > 0, F.col("full_minus"))
        .cast("long")
        .alias("peer_sum_c2"),
        F.when(
            F.col("peer_n") > 0,
            F.col("price_c2") * F.col("peer_n") > F.col("full_minus"),
        ).alias("above_peers"),
    ).orderBy("o_orderkey")
