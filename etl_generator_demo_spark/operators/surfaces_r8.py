"""Round-8 SQL-surface parity and analytics extensions.

Each query pins a semantics corner the reference's users can hit
through its NL->SQL surface (``/root/reference/sql_generator.py``
emits arbitrary ANSI SQL; ``sample_metadata.py:68-74`` exposes the
join graph) but that Spark either spells differently or must rewrite:

- quantified subquery comparisons (``> ALL`` / ``< ANY``) — Spark has
  no quantified-subquery syntax; the scalable rewrite is an aggregate
  join (broadcast per-group extrema), pinned hash-exact vs DuckDB's
  native quantifiers;
- null-safe equality joins (``<=>`` vs ``IS NOT DISTINCT FROM``);
- ``IGNORE NULLS`` window navigation (``nth_value``);
- calendar interval arithmetic (end-of-month clamping);
- nearest as-of join (backward + forward pick-closest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .asof import asof_join, asof_join_forward
from .relational import t


@register(
    "sq_quantified_all_any",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(FLOOR(c.c_acctbal * 100) AS BIGINT) AS acctbal_e2
    FROM customer c
    WHERE c.c_acctbal > ALL (SELECT s.s_acctbal FROM supplier s
                             WHERE s.s_nationkey = c.c_nationkey)
      AND c.c_acctbal < ANY (SELECT o.o_totalprice FROM orders o
                             WHERE o.o_custkey = c.c_custkey)
    ORDER BY c.c_custkey
    """,
    survey_ids=("P6", "J1", "J5", "A1"),
)
def sq_quantified_all_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified subquery comparisons. The oracle uses ANSI ``> ALL``
    / ``< ANY`` natively; Spark has no quantified-subquery syntax, so
    the engine applies the standard aggregate rewrite with full
    three-valued semantics (r8 advice) — in a WHERE context,
    ``x > ALL S`` keeps the row iff S is empty, or S has no NULLs and
    ``x > max(S)`` (a NULL element makes the conjunction UNKNOWN
    unless some comparison is already FALSE — either way the row is
    dropped, so the rewrite carries a per-group null count and demands
    it be zero; a left-join miss, i.e. the empty set, is told apart
    from an all-NULL group by the count column's own NULL).
    ``x < ANY S`` keeps the row iff ``x < max(S)`` over the non-NULL
    elements — max already ignores NULLs and an UNKNOWN-only
    disjunction drops the row, so the inner join on the max is exact
    as-is. At scale both aggregates are tiny per-group extrema
    relations that broadcast; the correlated per-row probe the syntax
    implies never materializes."""
    cust = t(spark, sf_dir, "customer")
    sup_max = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("c_nationkey"))
        .agg(
            F.max("s_acctbal").alias("max_sup"),
            F.sum(F.col("s_acctbal").isNull().cast("long")).alias("n_null_sup"),
        )
    )
    ord_max = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.max("o_totalprice").alias("max_ord"))
    )
    return (
        cust.join(F.broadcast(sup_max), "c_nationkey", "left")
        .filter(
            F.col("n_null_sup").isNull()  # empty S: > ALL vacuously TRUE
            | (
                (F.col("n_null_sup") == 0)
                & (F.col("c_acctbal") > F.col("max_sup"))
            )
        )
        .join(ord_max, "c_custkey")
        .filter(F.col("c_acctbal") < F.col("max_ord"))
        .select(
            "c_custkey",
            "c_name",
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("acctbal_e2"),
        )
        .orderBy("c_custkey")
    )


@register(
    "j_null_safe_equality",
    oracle="""
    WITH r AS (
        SELECT o_orderstatus AS st,
               NULLIF(SUBSTRING(o_orderpriority, 1, 1), '3') AS pp,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT a.st AS st_a, b.st AS st_b, a.pp AS pp,
           CAST(a.n * b.n AS BIGINT) AS pair_weight
    FROM r a JOIN r b
      ON a.pp IS NOT DISTINCT FROM b.pp AND a.st < b.st
    ORDER BY st_a, st_b, pp NULLS FIRST
    """,
    survey_ids=("J1", "F1", "A1"),
)
def j_null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join: Spark's ``<=>`` vs ANSI
    ``IS NOT DISTINCT FROM``. NULL join keys (manufactured with
    NULLIF) MATCH each other under null-safe equality where a plain
    equi-join would drop them — the semantics a dedup or SCD pipeline
    relies on when key columns are nullable. Catalyst plans ``<=>`` as
    a hash join (EqualNullSafe is an equi-key), not a nested loop, so
    the null-safe spelling costs nothing at scale; the grouped
    relation it joins here is status×priority-bounded."""
    r = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("st"),
            F.nullif(F.substring("o_orderpriority", 1, 1), F.lit("3")).alias("pp"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a, b = r.alias("a"), r.alias("b")
    return (
        a.join(
            b,
            F.col("a.pp").eqNullSafe(F.col("b.pp")) & (F.col("a.st") < F.col("b.st")),
        )
        .select(
            F.col("a.st").alias("st_a"),
            F.col("b.st").alias("st_b"),
            F.col("a.pp").alias("pp"),
            (F.col("a.n") * F.col("b.n")).cast("long").alias("pair_weight"),
        )
        .orderBy("st_a", "st_b", F.col("pp").asc_nulls_first())
    )


@register(
    "w_nth_value_ignore_nulls",
    oracle="""
    WITH v AS (
        SELECT o_custkey,
               CASE WHEN o_orderstatus = 'F'
                    THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS fp,
               o_orderdate, o_orderkey
        FROM orders
    ),
    w AS (
        SELECT o_custkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn,
               first_value(fp IGNORE NULLS) OVER win AS first_f_e2,
               nth_value(fp, 2 IGNORE NULLS) OVER win AS second_f_e2,
               last_value(fp IGNORE NULLS) OVER win AS last_f_e2,
               CAST(COUNT(fp) OVER win AS BIGINT) AS n_finished
        FROM v
        WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT o_custkey, first_f_e2, second_f_e2, last_f_e2, n_finished
    FROM w WHERE rn = 1
    ORDER BY o_custkey
    """,
    survey_ids=("W2", "W3", "F7"),
)
def w_nth_value_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IGNORE NULLS`` window navigation: first, second and last
    FINISHED-order price per customer from one pass over the order
    timeline, skipping non-finished orders (NULL-gapped values) inside
    the frame. Pins Spark's ``ignoreNulls=True`` navigation against
    DuckDB's ``IGNORE NULLS`` syntax — including ``nth_value``'s
    "second non-null in frame order" semantics, which a
    filter-then-rank rewrite only matches when tie order is pinned
    (o_orderdate, o_orderkey). Partitioned window, no global sort."""
    v = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(
            F.col("o_orderstatus") == "F",
            F.floor(F.col("o_totalprice") * 100).cast("long"),
        ).alias("fp"),
        "o_orderdate",
        "o_orderkey",
    )
    win = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        v.select(
            "o_custkey",
            F.row_number()
            .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
            .alias("rn"),
            F.first("fp", ignorenulls=True).over(win).alias("first_f_e2"),
            F.nth_value("fp", 2, ignoreNulls=True).over(win).alias("second_f_e2"),
            F.last("fp", ignorenulls=True).over(win).alias("last_f_e2"),
            F.count("fp").over(win).cast("long").alias("n_finished"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_custkey")
    )


@register(
    "f_interval_month_arithmetic",
    oracle="""
    WITH d AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
        FROM orders
        WHERE EXTRACT(DAY FROM o_orderdate) >= 28
    )
    SELECT d,
           CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_1m,
           CAST(d + INTERVAL 3 MONTH AS DATE) AS plus_3m,
           last_day(d) AS month_end,
           CAST(EXTRACT(DAY FROM last_day(d)) AS BIGINT) AS days_in_month,
           (d = last_day(d)) AS is_month_end
    FROM d
    ORDER BY d
    """,
    survey_ids=("F2", "F4", "F6"),
)
def f_interval_month_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar interval arithmetic pinned cross-engine on the corner
    that bites ETL backfills: month addition CLAMPS to the target
    month's end (Jan 31 + 1 month = Feb 28/29 — both engines follow
    the SQL convention rather than overflowing into March), exercised
    on every late-month order date in the fixture, leap Februaries
    included. ``last_day`` / days-in-month round out the
    calendar-function surface (F2/F4). The distinct-date grid is
    calendar-bounded, so the query is a scan + tiny distinct."""
    d = (
        t(spark, sf_dir, "orders")
        .filter(F.dayofmonth("o_orderdate") >= 28)
        .select(F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
    )
    return d.select(
        "d",
        F.add_months("d", 1).alias("plus_1m"),
        F.add_months("d", 3).alias("plus_3m"),
        F.last_day("d").alias("month_end"),
        F.dayofmonth(F.last_day("d")).cast("long").alias("days_in_month"),
        (F.col("d") == F.last_day("d")).alias("is_month_end"),
    ).orderBy("d")


@register(
    "j8_asof_nearest",
    oracle="""
    WITH clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'purchase'
    ),
    bwd AS (
        SELECT p.event_id, p.user_id, p.ts, c.ts AS b_ts
        FROM purchases p
        ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    ),
    fwd AS (
        SELECT p.event_id, c.ts AS f_ts
        FROM purchases p
        ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
    )
    SELECT b.event_id, b.user_id, b.ts AS purchase_ts,
           CASE
             WHEN b.b_ts IS NULL THEN f.f_ts
             WHEN f.f_ts IS NULL THEN b.b_ts
             WHEN date_diff('microsecond', b.b_ts, b.ts)
                  <= date_diff('microsecond', b.ts, f.f_ts) THEN b.b_ts
             ELSE f.f_ts
           END AS nearest_click_ts
    FROM bwd b JOIN fwd f USING (event_id)
    ORDER BY b.event_id
    """,
    survey_ids=("J8",),
)
def j8_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join — the third direction after backward and
    forward: each purchase takes whichever click is CLOSEST in time
    (ties to the earlier, i.e. backward, side; missing side falls back
    to the other). Composed from the two existing single-shuffle
    union+window as-of operators plus a co-keyed equi-join on the
    probe id — still linear, no per-row range scan. The oracle runs
    DuckDB's native ASOF twice (>= backward, <= forward) and picks
    the same winner."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    bwd = asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        value_cols=["click_ts"],
    ).select("event_id", "user_id", "purchase_ts", F.col("asof_click_ts").alias("b_ts"))
    fwd = asof_join_forward(
        clicks,
        purchases.select("event_id", "user_id", "purchase_ts"),
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        value_cols=["click_ts"],
    ).select("event_id", F.col("asof_click_ts").alias("f_ts"))
    j = bwd.join(fwd, "event_id")
    b_us = F.unix_micros("purchase_ts") - F.unix_micros("b_ts")
    f_us = F.unix_micros("f_ts") - F.unix_micros("purchase_ts")
    return j.select(
        "event_id",
        "user_id",
        "purchase_ts",
        F.when(F.col("b_ts").isNull(), F.col("f_ts"))
        .when(F.col("f_ts").isNull(), F.col("b_ts"))
        .when(b_us <= f_us, F.col("b_ts"))
        .otherwise(F.col("f_ts"))
        .alias("nearest_click_ts"),
    ).orderBy("event_id")
