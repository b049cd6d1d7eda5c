"""Window functions, sort/limit/top-k, set operations, CTEs.

SURVEY.md §2.5 W1-W4, §2.6 O1/O4, §2.7 U1/U2 — reachable from the
reference's full-SQL grant (``sql_generator.py:37``) and its own
sample prompts ("latest N orders per user", ``sql_generator.py:211``).

Determinism note: every window ORDER BY carries a unique tiebreaker
(orderkey/custkey) wherever the frame result depends on row order —
the oracle hash compare needs bit-identical results, and ties in
`o_orderdate`/doubles would otherwise make row_number/lag
nondeterministic. RANK over a non-unique key stays deterministic by
definition (ties share a rank), so `w1` exercises true tie semantics.

Scale: windows shuffle once on partitionBy keys; per-customer
partitions are tiny and skew-free. Top-k global (`o_topk`) compiles to
TakeOrderedAndProject — no full sort at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register


# ---------------------------------------------------------------------------
# W1 — ranking family
# ---------------------------------------------------------------------------
@register(
    "w1_rank_customers_in_nation",
    oracle="""
    SELECT c_custkey, c_nationkey,
           RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS bal_rank,
           DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS bal_dense_rank,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS bal_row
    FROM customer
    ORDER BY c_nationkey, bal_row
    """,
    survey_ids=("W1",),
)
def w1_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_ties = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    w_uniq = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_nationkey",
            F.rank().over(w_ties).alias("bal_rank"),
            F.dense_rank().over(w_ties).alias("bal_dense_rank"),
            F.row_number().over(w_uniq).alias("bal_row"),
        )
        .orderBy("c_nationkey", "bal_row")
    )


# ---------------------------------------------------------------------------
# W2 — lag/lead analytics
# ---------------------------------------------------------------------------
@register(
    "w2_order_gaps",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(DATE_DIFF('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT)                                             AS days_since_prev,
           ROUND(LEAD(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2)       AS next_price
    FROM orders
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    survey_ids=("W2", "F4"),
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
            .cast("long")
            .alias("days_since_prev"),
            F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# W3 — framed aggregates: running total + sliding ROWS frame
# ---------------------------------------------------------------------------
@register(
    "w3_running_totals",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           FLOOR(AVG(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100) / 100 AS moving_avg_3
    FROM orders
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    survey_ids=("W3",),
)
def w3_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(
                F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
            ).alias("running_spend"),
            # floor-scaling, not round: an avg over a 2-row frame of
            # cent values lands exactly on .005, where Spark and DuckDB
            # round opposite ways; floor on the identical binary double
            # is boundary-free.
            (F.floor(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)) * 100) / 100).alias(
                "moving_avg_3"
            ),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# W3 — RANGE (value-based) frame
# ---------------------------------------------------------------------------
@register(
    "w3_range_frame_price_band",
    oracle="""
    SELECT o_orderkey,
           COUNT(*) OVER (ORDER BY o_totalprice
                          RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS n_in_band
    FROM orders
    ORDER BY o_orderkey
    """,
    survey_ids=("W3",),
)
def w3_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global value-RANGE frame count, decomposed so it scales.

    The naive spelling — ``COUNT(*) OVER (ORDER BY price RANGE 5000
    PRECEDING)`` — is an UNPARTITIONED window: Spark moves the whole
    orders relation into one task (the `x4_zipf_slope` r12 weak-plan
    class, caught by tools/plan_audit.py's generic check). The oracle
    keeps that spelling (DuckDB defines the semantics); the Spark plan
    instead uses the prefix-sum identity

        n_in_band(p) = cnt_le(p) - cnt_lt(p - 5000)

    with both counts split into [bins-below prefix] + [within-bin
    count] over width-5000 price bins:

    - ``cnt_le``: a RANGE frame window partitioned BY BIN (parallel;
      peers included exactly as the global frame's CURRENT ROW is);
    - ``cnt_lt(x)``: probe rows (x = p - 5000, same IEEE subtraction
      DuckDB performs for the frame bound) unioned into the per-bin
      pre-aggregated price relation; a bin-partitioned running sum
      with probes ordered BEFORE tied data rows counts strictly-less
      data (frame lower bound is inclusive, so ties at x stay IN the
      band);
    - the bin lattice (≤ max_price/5000 rows — fixed by the price
      domain, NOT by data volume) carries the bins-below prefix and
      broadcasts.

    Every corpus-sized window here is partitioned on the bin key; the
    only single-partition window is the lattice prefix scan."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    data = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("p"),
        F.floor(F.col("o_totalprice") / 5000).cast("long").alias("b"),
    )
    # bins-below prefix over the bounded bin lattice (single-partition
    # window input is ≤ price_domain/5000 rows by construction)
    lattice = data.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n_bin"))
    # densify (probe bins p-5000 may land in unoccupied bins whose
    # prefix is still the sum of all occupied bins below them)
    dense = (
        lattice.agg(
            (F.min("b") - 1).alias("lo"), F.max("b").alias("hi")
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("b"))
        .join(lattice, "b", "left")
        .select("b", F.coalesce("n_bin", F.lit(0)).cast("long").alias("n_bin"))
    )
    wlat = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    prefix = dense.select(
        "b", F.coalesce(F.sum("n_bin").over(wlat), F.lit(0)).alias("n_below")
    )
    # cnt_le(p): bin-partitioned RANGE frame (peer-inclusive) + prefix
    wle = (
        Window.partitionBy("b")
        .orderBy("p")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    le = data.withColumn("le_within", F.count(F.lit(1)).over(wle)).join(
        F.broadcast(prefix), "b"
    )
    # cnt_lt(p - 5000): probes merged into per-(bin, price) counts;
    # probe sorts before tied data rows => strict '<'
    dp = data.groupBy("b", "p").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    probes = data.select(
        "o_orderkey",
        (F.col("p") - F.lit(5000.0)).alias("x"),
    ).select(
        "o_orderkey",
        F.col("x").alias("p"),
        F.floor(F.col("x") / 5000).cast("long").alias("b"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0).alias("tag"),
    )
    u = dp.select(
        F.lit(None).cast("long").alias("o_orderkey"), "p", "b", "cnt", F.lit(1).alias("tag")
    ).unionByName(probes)
    wlt = (
        Window.partitionBy("b")
        .orderBy("p", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lt_within = (
        u.withColumn("lt_within", F.sum("cnt").over(wlt))
        .filter(F.col("tag") == 0)
        .join(F.broadcast(prefix.withColumnRenamed("n_below", "n_below_x")), "b", "left")
        .select(
            "o_orderkey",
            "lt_within",
            F.coalesce(F.col("n_below_x"), F.lit(0)).alias("n_below_x"),
        )
    )
    return (
        le.join(lt_within, "o_orderkey")
        .select(
            "o_orderkey",
            (
                F.col("n_below")
                + F.col("le_within")
                - F.col("n_below_x")
                - F.col("lt_within")
            )
            .cast("long")
            .alias("n_in_band"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# W4 — top-k per group ("latest/biggest N per user", sql_generator.py:211)
# ---------------------------------------------------------------------------
@register(
    "w4_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    survey_ids=("W4",),
)
def w4_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


# ---------------------------------------------------------------------------
# O1+O4 — global top-k (ORDER BY + LIMIT -> TakeOrderedAndProject)
# ---------------------------------------------------------------------------
@register(
    "o_topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    survey_ids=("O1", "O2", "O4"),
)
def o_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# U2 — UNION / UNION ALL
# ---------------------------------------------------------------------------
@register(
    "u_union_key_accounts",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    ORDER BY c_custkey
    """,
    survey_ids=("U2",),
)
def u_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select("c_custkey")
    big = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return rich.union(big).distinct().orderBy("c_custkey")


# ---------------------------------------------------------------------------
# U2 — INTERSECT
# ---------------------------------------------------------------------------
@register(
    "u_intersect_urgent_and_big",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    ORDER BY o_custkey
    """,
    survey_ids=("U2",),
)
def u_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return urgent.intersect(big).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# U2 — EXCEPT
# ---------------------------------------------------------------------------
@register(
    "u_except_never_urgent",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ORDER BY o_custkey
    """,
    survey_ids=("U2",),
)
def u_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    all_cust = o.select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return all_cust.subtract(urgent).orderBy("o_custkey")  # EXCEPT = distinct semantics


# ---------------------------------------------------------------------------
# U1 — CTE through spark.sql (the reference's WITH recognition,
# db_connector.py:218)
# ---------------------------------------------------------------------------
_CTE_SQL = """
WITH nation_rev AS (
    SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS raw_rev
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    GROUP BY n_name
)
SELECT n_name, ROUND(raw_rev, 2) AS revenue
FROM nation_rev
WHERE raw_rev > (SELECT AVG(raw_rev) FROM nation_rev)
ORDER BY revenue DESC, n_name
"""


@register(
    "u_cte_above_avg_nations",
    oracle=_CTE_SQL,
    survey_ids=("U1", "A2"),
)
def u_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "supplier", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_CTE_SQL)


# ---------------------------------------------------------------------------
# W1+ — distribution window functions (percent_rank / cume_dist)
# ---------------------------------------------------------------------------
@register(
    "w_cume_dist_percent_rank",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           FLOOR(PERCENT_RANK() OVER w * 1000000) / 1000000 AS pct_rank,
           FLOOR(CUME_DIST()    OVER w * 1000000) / 1000000 AS cume
    FROM orders
    WHERE o_custkey <= 20
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    ORDER BY o_orderpriority, o_totalprice, o_orderkey
    """,
    survey_ids=("W1",),
)
def w_cume_dist_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution functions PERCENT_RANK ((rank-1)/(n-1)) and
    CUME_DIST (n_peers_at_or_below/n) — the "where does this order sit
    in its priority class" question. Both are tie-aware by definition
    (peers share a value), so a non-unique ORDER BY key stays
    deterministic; output floor-scaled to 1e-6 since the division is
    the only float step. One window shuffle on the partition key."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 20)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    fl6 = lambda c: F.floor(c * 1000000) / 1000000  # noqa: E731
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            fl6(F.percent_rank().over(w)).alias("pct_rank"),
            fl6(F.cume_dist().over(w)).alias("cume"),
        )
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# O2+ — keyset-free pagination (LIMIT ... OFFSET)
# ---------------------------------------------------------------------------
@register(
    "o_limit_offset_page",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
    survey_ids=("O1", "O2"),
)
def o_limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 3 of the most recent orders (LIMIT 20 OFFSET 40) — the
    pagination idiom every result-table UI (the reference's included)
    emits. The ORDER BY carries a unique tiebreaker so page boundaries
    are deterministic. At scale OFFSET still sorts/skips the prefix —
    keyset pagination (WHERE (date, key) < last-seen) is the 100 TB
    path; this registers the SQL-surface semantics."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders
        ORDER BY o_orderdate DESC, o_orderkey
        LIMIT 20 OFFSET 40
        """
    )


# ---------------------------------------------------------------------------
# U2+ — multiset (ALL) set operations
# ---------------------------------------------------------------------------
_MULTISET_SQL = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
"""


@register(
    "u_intersect_all_urgent_finished",
    oracle=_MULTISET_SQL,
    survey_ids=("U2",),
)
def u_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset semantics: a customer key appearing m
    times on the urgent side and n times on the finished side survives
    min(m, n) times (the bag intersection DISTINCT-based INTERSECT
    destroys). Same SQL text runs on both engines; Spark compiles the
    ALL variants to counted aggregates, one shuffle per side."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_MULTISET_SQL)


# ---------------------------------------------------------------------------
# W3+ — moving median (exact percentile as a framed window aggregate)
# ---------------------------------------------------------------------------
@register(
    "w_moving_median",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           FLOOR(QUANTILE_CONT(o_totalprice, 0.5) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 100) / 100 AS mov_median
    FROM orders
    WHERE o_custkey <= 50
    ORDER BY o_orderpriority, o_orderdate, o_orderkey
    """,
    survey_ids=("W3",),
)
def w_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row moving MEDIAN per priority class — the robust
    moving average (outlier-immune trend line). Exact interpolated
    percentile as a framed window aggregate; both engines use the
    same linear-interpolation definition, floor-scaled at 1e-2. The
    frame is ROWS-based with a unique (date, key) order so window
    contents are deterministic. At 100 TB the exact frame percentile
    re-sorts 7 values per row — fine; for wide frames switch to
    approx_percentile in the same frame."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-6, 0)
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_orderdate",
            (F.floor(F.expr("percentile(o_totalprice, 0.5)").over(w) * 100) / 100).alias(
                "mov_median"
            ),
        )
        # same presentation order as the oracle declares (date before
        # key inside a priority class)
        .orderBy("o_orderpriority", "o_orderdate", "o_orderkey")
        .drop("o_orderdate")
    )


_EWMA_WEIGHTS = [128, 64, 32, 16, 8, 4, 2, 1]  # alpha=1/2, newest first


def _duck_ewma_terms() -> tuple[str, str]:
    num = " + ".join(
        f"{w} * COALESCE(LAG(cents, {k}) OVER w, 0)" if k else f"{w} * cents"
        for k, w in enumerate(_EWMA_WEIGHTS)
    )
    den = " + ".join(
        f"{w} * (CASE WHEN LAG(cents, {k}) OVER w IS NULL THEN 0 ELSE 1 END)"
        if k
        else f"{w}"
        for k, w in enumerate(_EWMA_WEIGHTS)
    )
    return num, den


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _duck_ewma_terms()


@register(
    "w_ewma_order_totals",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_custkey <= 300
    ),
    e AS (
        SELECT o_custkey, o_orderkey, cents,
               {_EWMA_NUM_SQL} AS ewma_num,
               {_EWMA_DEN_SQL} AS ewma_den
        FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    )
    SELECT o_custkey, o_orderkey, cents,
           CAST(ewma_num AS BIGINT) AS ewma_num,
           CAST(ewma_den AS BIGINT) AS ewma_den,
           CAST(ewma_num AS DOUBLE) / ewma_den / 100 AS ewma_price
    FROM e
    ORDER BY o_custkey, o_orderkey
    """,
    survey_ids=("W2", "W3", "F6"),
)
def w_ewma_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each customer's order
    totals — the smoother that, unlike a plain moving average, weights
    recent orders geometrically higher.

    Float EWMAs are order-of-summation fragile; this one is EXACT:
    alpha = 1/2 over a trailing 8-order horizon gives dyadic weights
    128..1, so numerator and denominator are integer lag() sums over
    cents (the >8-lag tail of a true EWMA is < 0.4% of the weight and
    is dropped identically in both engines). The frame is 8 fixed lag()
    columns in ONE window pass — no per-row loop, no UDF; one shuffle
    on the partition key, scale-free per customer."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 300)
        .select("o_custkey", "o_orderkey", cents.alias("cents"))
    )
    num = sum(
        F.lit(wt) * (F.col("cents") if k == 0 else F.coalesce(F.lag("cents", k).over(w), F.lit(0)))
        for k, wt in enumerate(_EWMA_WEIGHTS)
    )
    den = sum(
        F.lit(wt)
        * (F.lit(1) if k == 0 else F.when(F.lag("cents", k).over(w).isNull(), 0).otherwise(1))
        for k, wt in enumerate(_EWMA_WEIGHTS)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "cents",
            num.cast("long").alias("ewma_num"),
            den.cast("long").alias("ewma_den"),
            (num.cast("double") / den / 100).alias("ewma_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_EXCEPT_ALL_SQL = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_custkey
"""


@register(
    "u_except_all_urgent_minus_finished",
    oracle=_EXCEPT_ALL_SQL,
    survey_ids=("U2",),
)
def u_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference: a key with m urgent and n finished
    occurrences survives max(m − n, 0) times (DISTINCT-based EXCEPT
    collapses it to 0/1). Completes the multiset suite next to
    `u_intersect_all_urgent_finished`; same SQL text both engines,
    counted-aggregate plan, one shuffle per side."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_EXCEPT_ALL_SQL)


@register(
    "o_keyset_page",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
    FROM orders
    WHERE (o_orderdate, o_orderkey) > (
        SELECT (o_orderdate, o_orderkey) FROM (
            SELECT o_orderdate, o_orderkey FROM orders
            ORDER BY o_orderdate, o_orderkey LIMIT 1 OFFSET 99
        )
    )
    ORDER BY o_orderdate, o_orderkey
    LIMIT 50
    """,
    survey_ids=("O1", "O2", "P6"),
)
def o_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination — the scale-correct successor to
    LIMIT/OFFSET (`o_limit_offset_page`): page N+1 starts strictly
    after the last (sort-key, tiebreak-key) of page N, so the scan
    prunes by predicate instead of counting-and-discarding OFFSET rows.
    Here the cursor (the 100th row's keys) is itself computed in-plan;
    a real client passes it as a literal, making every page an O(page)
    TakeOrderedAndProject over a pushed-down range predicate."""
    orders = t(spark, sf_dir, "orders")
    cursor_rows = (
        orders.select("o_orderdate", "o_orderkey")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(1)
        .collect()
    )
    if not cursor_rows:
        # empty table: no cursor exists; the oracle's scalar subquery
        # is NULL and its comparison yields no rows — match that
        # instead of crashing on [0]
        after = F.lit(False)
    else:
        cursor = cursor_rows[0]
        after = (F.col("o_orderdate") > F.lit(cursor.o_orderdate)) | (
            (F.col("o_orderdate") == F.lit(cursor.o_orderdate))
            & (F.col("o_orderkey") > cursor.o_orderkey)
        )
    return (
        orders.filter(after)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(50)
    )


_LATERAL_TOPN_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
    SELECT c_name, c_acctbal FROM customer
    WHERE c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name LIMIT 3
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


@register(
    "u_lateral_topn_per_nation",
    oracle=_LATERAL_TOPN_SQL,
    survey_ids=("U1", "W4", "J1"),
)
def u_lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — top-3 customers by balance per
    nation, written the way a SQL user writes it (the per-row derived
    table), not the window-function rewrite (`w4_*` covers that form).
    The IDENTICAL SQL text runs on both engines; Catalyst decorrelates
    the lateral into a ranked join under the hood, so the plan is the
    same shuffle-once shape as the window formulation — proof the
    engine's SQL front door carries the modern correlated-subquery
    surface, not just the DataFrame DSL."""
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_TOPN_SQL)


@register(
    "o_top_recent_with_ties",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM orders
    QUALIFY RANK() OVER (ORDER BY o_orderdate DESC) <= 50
    ORDER BY o_orderdate DESC, o_orderkey
    """,
    survey_ids=("O1", "O4", "W1"),
)
def o_top_recent_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FETCH FIRST n ROWS WITH TIES — the pagination contract LIMIT
    silently violates: every order sharing the 50th-most-recent
    order DATE is included, so the result is a deterministic SET (no
    arbitrary tie-victim). Spark has no WITH TIES syntax; the naive
    rewrite is ``rank() <= n`` over a GLOBAL window, which funnels the
    whole table through one task. The scale-safe equivalent:
    ``rank(r) <= n  ⟺  #rows strictly more recent than r < n
                     ⟺  r.o_orderdate >= d_n``
    where d_n is the n-th date of the descending date MULTISET — i.e.
    the min of a distributed top-k (``orderBy().limit(n)`` compiles to
    TakeOrderedAndProject, partial top-k per partition, no global
    sort). The cutoff is one scalar fetched to the driver (bounded,
    same contract as the engine's other parameter fetches) and applied
    as a LITERAL predicate, so the second scan gets a parquet
    PushedFilter. Result-set size stays data-dependent (> n on ties),
    which is what the caller asked for."""
    o = t(spark, sf_dir, "orders")
    top = (
        o.select("o_orderdate")
        .orderBy(F.desc("o_orderdate"))
        .limit(50)
        .agg(F.min("o_orderdate").alias("cutoff"))
        .collect()
    )
    cutoff = top[0]["cutoff"]
    base = o if cutoff is None else o.filter(F.col("o_orderdate") >= F.lit(cutoff))
    return (
        base.select(
            "o_orderkey", F.col("o_orderdate").cast("timestamp").alias("o_orderdate")
        )
        .orderBy(F.desc("o_orderdate"), "o_orderkey")
    )


@register(
    "o_topk_explicit_null_order",
    oracle="""
    SELECT o_orderkey,
           NULLIF(o_orderpriority, '1-URGENT') AS pri_or_null,
           ROUND(o_totalprice, 2) AS price
    FROM orders
    ORDER BY pri_or_null ASC NULLS FIRST, o_orderkey
    LIMIT 25
    """,
    survey_ids=("O1", "O4", "F1"),
)
def o_topk_explicit_null_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k under a NULLABLE sort key with EXPLICIT null placement —
    the ordering trap between engines: Spark's ASC default is NULLS
    FIRST, DuckDB's is NULLS LAST (and they flip disagreement again
    on DESC), so any top-k over a nullable key that omits the NULLS
    clause silently returns different rows per engine. The explicit
    ``NULLS FIRST`` makes the limit bite INSIDE the null region
    (urgent orders null out via NULLIF), so a default-divergence
    would flip the entire result set, not a tail row. Compiles to
    TakeOrderedAndProject — null placement costs nothing at scale."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.expr("NULLIF(o_orderpriority, '1-URGENT')").alias("pri_or_null"),
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy(F.col("pri_or_null").asc_nulls_first(), "o_orderkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Trailing-window COUNT DISTINCT
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
