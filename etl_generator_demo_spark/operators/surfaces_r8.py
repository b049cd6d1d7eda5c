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
- nearest as-of join (backward + forward pick-closest);
- OLS regression slope in overflow-safe fixed point;
- Jensen-Shannon source divergence on the documents table.

All scores integer fixed-point or exact integer sums (e9-floored-log
idiom); squared/products carried as DECIMAL(38,0) per the round-7
overflow advice so the identical plan survives 100 TB group sizes.
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


@register(
    "a_regr_slope_revenue",
    oracle="""
    WITH day AS (
        SELECT CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxy
        FROM day
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
                      / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
               AS slope_cents_per_day_e6,
           CAST(FLOOR(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
               AS mean_daily_cents,
           CAST(FLOOR(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
               AS mean_day_index
    FROM s
    """,
    survey_ids=("A2", "F6"),
)
def a_regr_slope_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS regression slope of daily revenue over time — the trend
    monitor joining Mann-Kendall/CUSUM in the monitoring kit, as the
    closed-form least-squares line. Spark/DuckDB both ship
    ``regr_slope``, but its float accumulation is summation-order
    dependent (hash-unstable); instead the five sufficient statistics
    (n, Σx, Σy, Σx², Σxy) are EXACT integer sums carried as
    DECIMAL(38,0) — the r7-advice overflow discipline: x ≈ 2.5e3
    (day index from a fixed 1995 origin), y = daily cents, so n·Σxy
    overflows int64 at sf≥1 but sits far inside decimal38. One
    map-side-combinable global aggregate; the only floats are the two
    final exact-decimal→double divisions, identical in both engines.
    Slope is shift-invariant, so the fixed origin changes nothing."""
    dec = "decimal(38,0)"
    day = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("x")
        )
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("y"))
    )
    x_d, y_d = F.col("x").cast(dec), F.col("y").cast(dec)
    s = day.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(x_d).cast(dec).alias("sx"),
        F.sum(y_d).cast(dec).alias("sy"),
        F.sum(x_d * x_d).cast(dec).alias("sxx"),
        F.sum(x_d * y_d).cast(dec).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    return s.select(
        n.cast("long").alias("n_days"),
        F.floor(
            (n * sxy - sx * sy).cast("double") * 1_000_000.0
            / (n * sxx - sx * sx).cast("double")
        )
        .cast("long")
        .alias("slope_cents_per_day_e6"),
        F.floor(sy.cast("double") / n.cast("double")).cast("long").alias("mean_daily_cents"),
        F.floor(sx.cast("double") / n.cast("double")).cast("long").alias("mean_day_index"),
    )


@register(
    "x4_js_divergence_sources",
    oracle="""
    WITH h AS (
        SELECT source, CAST(n_chars // 100 AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS t FROM h GROUP BY 1),
    pairs AS (
        SELECT ta.source AS sa, tb.source AS sb, ta.t AS p_tot, tb.t AS q_tot
        FROM tot ta JOIN tot tb ON ta.source < tb.source
    ),
    kl_p AS (
        SELECT pr.sa, pr.sb,
               CAST(SUM(CAST(ha.n AS DECIMAL(38,0))
                        * CAST(CAST(FLOOR(LN(ha.n) * 1000000000) AS BIGINT)
                               - CAST(FLOOR(LN(ha.n * pr.q_tot
                                             + COALESCE(hb.n, 0) * pr.p_tot)
                                            * 1000000000) AS BIGINT)
                               AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS num_e9
        FROM pairs pr
        JOIN h ha ON ha.source = pr.sa
        LEFT JOIN h hb ON hb.source = pr.sb AND hb.bin = ha.bin
        GROUP BY pr.sa, pr.sb
    ),
    kl_q AS (
        SELECT pr.sa, pr.sb,
               CAST(SUM(CAST(hb.n AS DECIMAL(38,0))
                        * CAST(CAST(FLOOR(LN(hb.n) * 1000000000) AS BIGINT)
                               - CAST(FLOOR(LN(hb.n * pr.p_tot
                                             + COALESCE(ha.n, 0) * pr.q_tot)
                                            * 1000000000) AS BIGINT)
                               AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS num_e9
        FROM pairs pr
        JOIN h hb ON hb.source = pr.sb
        LEFT JOIN h ha ON ha.source = pr.sa AND ha.bin = hb.bin
        GROUP BY pr.sa, pr.sb
    )
    SELECT pr.sa AS source_a, pr.sb AS source_b,
           CAST(FLOOR((
               (CAST(p.num_e9 AS DOUBLE) / (pr.p_tot * 1000000000.0)
                + LN(2.0) + LN(CAST(pr.q_tot AS DOUBLE)))
             + (CAST(q.num_e9 AS DOUBLE) / (pr.q_tot * 1000000000.0)
                + LN(2.0) + LN(CAST(pr.p_tot AS DOUBLE)))
           ) * 500000.0) AS BIGINT) AS jsd_nats_e6
    FROM pairs pr
    JOIN kl_p p ON p.sa = pr.sa AND p.sb = pr.sb
    JOIN kl_q q ON q.sa = pr.sa AND q.sb = pr.sb
    ORDER BY source_a, source_b
    """,
    survey_ids=("X4", "A1", "J1"),
)
def x4_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of sources'
    document-length distributions (100-char bins) — the drift/overlap
    matrix in nats that complements the KS statistic (which sees only
    the max gap) and the χ² (which explodes on sparse bins). Uses the
    counts-form identity: with integer bin counts p_i (total P), q_i
    (total Q) and integer mixture m_i = p_i·Q + q_i·P,
    D(P‖M) = (Σ p_i·[L(p_i) − L(m_i)])/(P·1e9) + ln2 + lnQ with
    L = FLOOR(1e9·ln·) — every ln argument an integer, every sum an
    exact integer sum (order-independent), products carried as
    DECIMAL(38,0) per the r7 overflow advice. Histograms are
    bin-bounded; the pair relation is sources², never documents²."""
    docs = t(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    h = (
        docs.groupBy(
            "source", (F.col("n_chars") / 100).cast("long").alias("bin")
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    ).localCheckpoint(eager=True)
    tot = h.groupBy("source").agg(F.sum("n").cast("long").alias("t"))
    pairs = (
        tot.alias("ta")
        .join(tot.alias("tb"), F.col("ta.source") < F.col("tb.source"))
        .select(
            F.col("ta.source").alias("sa"),
            F.col("tb.source").alias("sb"),
            F.col("ta.t").alias("p_tot"),
            F.col("tb.t").alias("q_tot"),
        )
    )

    def _kl(own: str, other: str, own_tot: str, other_tot: str):
        """Σ n_own·[L(n_own) − L(n_own·tot_other + n_other·tot_own)]."""
        # distinct column names on the two h copies: ha/hb share lineage,
        # and an `ha["bin"] == hb["bin"]` predicate on a self-join is
        # ambiguous to the analyzer (it can resolve both sides to the
        # same attribute, degenerating into a cross join over bins)
        ha = h.select(
            F.col("source").alias(f"_{own}"),
            F.col("bin").alias("bin_own"),
            F.col("n").alias("n_own"),
        )
        hb = h.select(
            F.col("source").alias(f"_{other}"),
            F.col("bin").alias("bin_oth"),
            F.col("n").alias("n_oth"),
        )
        joined = (
            pairs.join(ha, F.col(f"_{own}") == F.col(own))
            .join(
                hb,
                (F.col(f"_{other}") == F.col(other))
                & (F.col("bin_own") == F.col("bin_oth")),
                "left",
            )
        )
        m = F.col("n_own") * F.col(other_tot) + F.coalesce(F.col("n_oth"), F.lit(0)) * F.col(
            own_tot
        )
        term = (
            F.floor(F.log("n_own") * 1_000_000_000).cast("long")
            - F.floor(F.log(m) * 1_000_000_000).cast("long")
        ).cast(dec)
        return joined.groupBy("sa", "sb").agg(
            F.sum(F.col("n_own").cast(dec) * term).cast(dec).alias(f"num_e9_{own}")
        )

    klp = _kl("sa", "sb", "p_tot", "q_tot")
    klq = _kl("sb", "sa", "q_tot", "p_tot")
    ln2 = 0.6931471805599453
    out = (
        pairs.join(klp, ["sa", "sb"])
        .join(klq, ["sa", "sb"])
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.floor(
                (
                    (
                        F.col("num_e9_sa").cast("double")
                        / (F.col("p_tot") * 1_000_000_000.0)
                        + F.lit(ln2)
                        + F.log(F.col("q_tot").cast("double"))
                    )
                    + (
                        F.col("num_e9_sb").cast("double")
                        / (F.col("q_tot") * 1_000_000_000.0)
                        + F.lit(ln2)
                        + F.log(F.col("p_tot").cast("double"))
                    )
                )
                * 500_000.0
            )
            .cast("long")
            .alias("jsd_nats_e6"),
        )
        .orderBy("source_a", "source_b")
    )
    return out
