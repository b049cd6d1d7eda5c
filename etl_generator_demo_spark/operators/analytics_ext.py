"""Second-wave analytics operators: argmax aggregates, NTILE,
first/last frames, cross join, array functions, window-over-aggregate
ratios, event-transition analysis — more of the generated-SQL surface
(full-SQL grant, ``sql_generator.py:37``) exercised against the
fixtures, each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.operators.tokens import _duck_ws_split, ws_split
from etl_generator_demo_spark.registry import register


def global_row_number(df: DataFrame, order_cols, rn_col: str = "_rn"):
    """Exact global ``row_number`` over a TOTAL order without the
    single-partition Window funnel (`Window.orderBy(...)` moves the
    whole relation through one task — Spark itself warns).

    Scale-safe construction:
      1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order
         columns — a cluster-parallel range shuffle; equal keys can't
         straddle partitions and the order columns must form a total
         order (callers pass a unique tiebreaker).
      2. ``monotonically_increasing_id`` — consecutive within each
         sorted partition.
      3. Rebase per partition with a driver-collected ``(pid, count,
         min_id)`` table: <= shuffle-partition-count rows, the same
         bounded parameter-fetch contract as the engine's other scalar
         collects. The rebase is a literal ``create_map`` lookup — no
         extra distributed join.
    ``localCheckpoint(eager)`` pins the materialized layout so the
    stats job and the consumer read the SAME partitions (two separate
    jobs re-planning the range sample could otherwise disagree).

    Returns ``(df_with_rn, total_count)``; ``rn`` is 1-based over the
    given total order, bit-identical to ``row_number() OVER (ORDER BY
    ...)``.
    """
    d = (
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_gpid", F.spark_partition_id())
        .withColumn("_gmid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    stats = sorted(
        d.groupBy("_gpid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("_gmid").alias("mn"))
        .collect(),
        key=lambda r: r["_gpid"],
    )
    offsets, mins, running = [], [], 0
    for r in stats:
        offsets.extend([F.lit(int(r["_gpid"])), F.lit(running)])
        mins.extend([F.lit(int(r["_gpid"])), F.lit(int(r["mn"]))])
        running += r["cnt"]
    if not stats:  # empty relation: any literal map keeps the plan valid
        offsets = mins = [F.lit(0), F.lit(0)]
    rn = (
        F.create_map(*offsets)[F.col("_gpid")]
        + (F.col("_gmid") - F.create_map(*mins)[F.col("_gpid")])
        + F.lit(1)
    ).cast("long")
    return d.withColumn(rn_col, rn).drop("_gpid", "_gmid"), running


def global_running(df: DataFrame, order_cols, value_col: str, kind: str = "sum",
                   out_col: str = "_run") -> DataFrame:
    """Exact distributed RUNNING aggregate (cumulative sum or max) over
    a total order — the prefix-scan counterpart of
    :func:`global_row_number`, replacing ``agg(...).over(
    Window.orderBy(...))``'s single-partition funnel.

    Two-phase prefix scan:
      1. ``repartitionByRange`` on the order columns (cluster-parallel;
         callers pass a TOTAL order so ties can't straddle partitions),
         ``localCheckpoint`` pins the layout.
      2. In-partition running aggregate via a Window keyed on the
         PHYSICAL partition id — a linear keyed exchange, never
         SinglePartition.
      3. Driver-side EXCLUSIVE prefix of the per-partition totals
         (<= shuffle-partition-count rows, the engine's bounded
         parameter-fetch contract), folded back in with a literal
         ``create_map`` lookup.
    Bit-identical to the global-window spelling for associative,
    commutative aggregates (sum of longs, max of any orderable)."""
    if kind not in ("sum", "max"):
        raise ValueError(f"global_running supports sum/max, got {kind!r}")
    agg = F.sum if kind == "sum" else F.max
    d = (
        df.repartitionByRange(*order_cols)
        .withColumn("_gpid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    stats = sorted(
        d.groupBy("_gpid").agg(agg(value_col).alias("v")).collect(),
        key=lambda r: r["_gpid"],
    )
    entries, acc = [], None
    for r in stats:
        if acc is not None:
            entries.extend([F.lit(int(r["_gpid"])), F.lit(acc)])
        if r["v"] is not None:
            if acc is None:
                acc = r["v"]
            elif kind == "sum":
                acc = acc + r["v"]
            else:
                acc = max(acc, r["v"])
    w = (
        Window.partitionBy("_gpid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = agg(value_col).over(w)
    if not entries:  # single populated partition: no prefix to fold in
        return d.withColumn(out_col, local).drop("_gpid")
    prefix = F.create_map(*entries)[F.col("_gpid")]
    if kind == "sum":
        # SQL running-SUM null semantics: null only while NO non-null
        # value has been seen yet. ``local`` is null when this
        # partition's prefix rows are all null, and ``prefix`` is null
        # when no earlier partition contributed — a bare local+prefix
        # would null out rows whose running sum lives entirely in the
        # prefix (all-null partition after populated ones).
        out = F.when(local.isNull() & prefix.isNull(), F.lit(None)).otherwise(
            F.coalesce(local, F.lit(0)) + F.coalesce(prefix, F.lit(0))
        )
    else:
        # greatest() skips nulls, so a null local (all-null partition)
        # correctly yields the prefix max and vice versa
        out = F.when(prefix.isNull(), local).otherwise(F.greatest(local, prefix))
    return d.withColumn(out_col, out).drop("_gpid")


def ntile_expr(rn, n: int, k: int):
    """ANSI ``NTILE(k)`` as a closed-form expression of the exact
    global row number ``rn`` (1-based) and the total count ``n``:
    the first ``n % k`` tiles carry ``n // k + 1`` rows, the rest
    ``n // k`` — bit-identical to the window function, but computable
    after :func:`global_row_number` with zero additional passes."""
    base, rem = divmod(n, k)
    if base == 0:  # fewer rows than tiles: row i is tile i
        return rn.cast("long")
    head = rem * (base + 1)
    return (
        F.when(rn <= F.lit(head), F.floor((rn - 1) / F.lit(base + 1)) + 1)
        .otherwise(F.lit(rem) + F.floor((rn - 1 - F.lit(head)) / F.lit(base)) + 1)
        .cast("long")
    )


@register(
    "a_argmax_top_customer_per_segment",
    oracle="""
    SELECT c_mktsegment,
           ARG_MAX(c_custkey, c_acctbal)            AS richest_custkey,
           FLOOR(MAX(c_acctbal) * 100) / 100        AS top_acctbal,
           ARG_MIN(c_custkey, c_acctbal)            AS poorest_custkey
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    survey_ids=("A1",),
)
def a_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregates) — one pass, no window needed.
    Deterministic: fixture acctbals are distinct doubles."""
    c = t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.max_by("c_custkey", "c_acctbal").alias("richest_custkey"),
            (F.floor(F.max("c_acctbal") * 100) / 100).alias("top_acctbal"),
            F.min_by("c_custkey", "c_acctbal").alias("poorest_custkey"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "w_ntile_price_quartiles",
    oracle="""
    SELECT quartile, COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM (SELECT o_totalprice,
                 NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
          FROM orders)
    GROUP BY quartile
    ORDER BY quartile
    """,
    survey_ids=("W1",),
)
def w_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) price quartiles — exact, but WITHOUT the global window
    funnel: :func:`global_row_number` (range-shuffle, cluster-parallel)
    + the closed-form :func:`ntile_expr` reproduce the window function
    bit-for-bit (the oracle keeps the NTILE spelling as the anchor).
    Cast back to int to match NTILE's engine dtype."""
    o = t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    d, n = global_row_number(
        o, [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()]
    )
    return (
        d.select(
            "o_totalprice",
            ntile_expr(F.col("_rn"), n, 4).cast("int").alias("quartile"),
        )
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("quartile")
    )


@register(
    "w_first_last_order_span",
    oracle="""
    SELECT DISTINCT o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
           LAST_VALUE(o_orderkey)  OVER w AS last_orderkey,
           CAST(DATE_DIFF('day',
                FIRST_VALUE(o_orderdate) OVER w,
                LAST_VALUE(o_orderdate)  OVER w) AS BIGINT) AS active_days
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey
    """,
    survey_ids=("W3", "F4"),
)
def w_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            F.first("o_orderkey").over(w).alias("first_orderkey"),
            F.last("o_orderkey").over(w).alias("last_orderkey"),
            F.datediff(
                F.last("o_orderdate").over(w), F.first("o_orderdate").over(w)
            ).cast("long").alias("active_days"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


@register(
    "j_cross_region_nation_grid",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_combos
    FROM region r CROSS JOIN nation n
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    survey_ids=("J7",),
)
def j_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (small×small grid — the only place a cross
    join belongs; anything larger is an LSH/blocking problem)."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_combos"))
        .orderBy("r_name")
    )


@register(
    "f_array_ops",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_duck_ws_split()} AS tk FROM documents
                  WHERE doc_id < 100)
    SELECT doc_id,
           CAST(LEN(tk) AS INT)                       AS n_tokens,
           tk[1]                                      AS first_token,
           ARRAY_TO_STRING(tk[3:5], ' ')              AS mid_slice_csv,
           LIST_CONTAINS(tk, 'spark')                 AS mentions_spark,
           CAST(NULLIF(LIST_POSITION(tk, 'data'), 0) AS INT) AS data_pos
    FROM toks
    ORDER BY doc_id
    """,
    survey_ids=("F5", "X4"),
)
def f_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over tokenized text: size, indexing, slice,
    contains, position. Missing-element position: Spark array_position
    and this DuckDB's LIST_POSITION both yield 0 -> nullif on BOTH
    sides gives SQL-null semantics. The slice is emitted re-joined as
    a string (the driver's canonicalizer rejects array-typed cells —
    registered queries never return arrays)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tk = ws_split()
    return d.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        tk.getItem(0).alias("first_token"),
        F.array_join(F.slice(tk, 3, 3), " ").alias("mid_slice_csv"),
        F.array_contains(tk, "spark").alias("mentions_spark"),
        F.nullif(F.array_position(tk, "data"), F.lit(0)).cast("int").alias("data_pos"),
    ).orderBy("doc_id")


@register(
    "w_share_of_total",
    oracle="""
    WITH seg AS (
        SELECT c_mktsegment, ROUND(SUM(o_totalprice), 2) AS seg_revenue
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, seg_revenue,
           FLOOR(seg_revenue / SUM(seg_revenue) OVER () * 1000000) / 1000000 AS revenue_share
    FROM seg
    ORDER BY c_mktsegment
    """,
    survey_ids=("W3", "A1"),
)
def w_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window over an aggregate: each group's share of the grand total
    (one agg shuffle + one single-partition window over 5 rows)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("seg_revenue"))
    )
    w = Window.partitionBy()
    return seg.select(
        "c_mktsegment",
        "seg_revenue",
        (F.floor(F.col("seg_revenue") / F.sum("seg_revenue").over(w) * 1_000_000) / 1_000_000)
        .alias("revenue_share"),
    ).orderBy("c_mktsegment")


@register(
    "x4_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    survey_ids=("W2", "X4"),
)
def x4_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (behavioral analysis over the
    stream): lag/lead + groupBy — one shuffle on user, one on the pair."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return (
        seq.groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("from_type", "to_type")
    )


@register(
    "x4_funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v_ts
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS c_ts
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.v_ts
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.c_ts
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase,
           FLOOR((SELECT COUNT(*) FROM c) * 10000.0 / (SELECT COUNT(*) FROM v)) / 10000
               AS click_rate,
           FLOOR((SELECT COUNT(*) FROM p) * 10000.0
                 / GREATEST((SELECT COUNT(*) FROM c), 1)) / 10000 AS purchase_rate
    """,
    survey_ids=("X4", "A2"),
)
def x4_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: each stage counts users
    whose FIRST qualifying event strictly follows their entry into the
    previous stage (the classic product-analytics sequencing, not
    set-intersection). Distributed shape: one groupBy per stage keyed
    on user_id — the stage joins are all on the same key, so at scale
    they co-partition after the first shuffle; no window over the full
    event stream is needed."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return funnel_counts(ev)


def funnel_counts(ev: DataFrame) -> DataFrame:
    """The funnel pipeline over any (user_id, ts, event_type) relation.

    Hot-user skew posture: every stage is a groupBy(user_id).min —
    partial aggregation (map-side combine) collapses a hot user's
    events to ONE row per map partition before any shuffle, and the
    stage joins run on post-aggregate relations (≤1 row per user), so
    no skewed key ever crosses an exchange at volume. Asserted against
    a planted hot user in tests/test_skew_hotuser.py."""
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    from .stats import denom

    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )
    return counts.select(
        "n_view",
        "n_view_click",
        "n_view_click_purchase",
        (F.floor(F.col("n_view_click") * 10000.0 / denom(F.col("n_view"))) / 10000).alias(
            "click_rate"
        ),
        (
            F.floor(
                F.col("n_view_click_purchase")
                * 10000.0
                / F.greatest(F.col("n_view_click"), F.lit(1))
            )
            / 10000
        ).alias("purchase_rate"),
    )


@register(
    "x4_value_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               AVG(value) AS mu,
               STDDEV_SAMP(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           FLOOR((s.mu + 3 * s.sigma) * 1000000) / 1000000 AS threshold
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE e.value > FLOOR((s.mu + 3 * s.sigma) * 1000000) / 1000000
    ORDER BY e.event_id
    """,
    survey_ids=("X4", "A1"),
)
def x4_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 3-sigma outliers (the standard cheap data-cleaning
    gate): one groupBy for the moments (map-side combined), broadcast
    back, scan-side comparison. The threshold is floor-scaled BEFORE
    comparing so both engines cut at the identical boundary despite
    summation-order float wobble in mean/stddev."""
    ev = t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    thr = F.floor((F.col("mu") + 3 * F.col("sigma")) * 1e6) / 1e6
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("threshold", thr)
        .filter(F.col("value") > F.col("threshold"))
        .select("event_id", "event_type", "value", "threshold")
        .orderBy("event_id")
    )


@register(
    "x4_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id,
               CAST(DATE_TRUNC('week', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id,
               f.cohort_week,
               CAST(DATE_DIFF('day', f.cohort_week,
                              DATE_TRUNC('week', CAST(e.ts AS TIMESTAMP))) / 7 AS BIGINT)
                   AS week_offset
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    survey_ids=("X4", "A1", "F4"),
)
def x4_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week,
    counted once per (cohort, weeks-since-cohort) they were active in.
    Three shuffles all keyed on user_id/cohort — co-partitioned after
    the first; the distinct collapses per-user event volume BEFORE the
    final count so the last aggregation is tiny."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "d_snapshot_diff",
    oracle="""
    WITH old_snap AS (
        SELECT o_orderkey,
               MD5(COALESCE(CAST(o_orderstatus AS VARCHAR), CHR(0) || 'NULL')
                   || CHR(31)
                   || COALESCE(CAST(o_totalprice AS VARCHAR), CHR(0) || 'NULL')) AS d
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    new_snap AS (
        SELECT o_orderkey,
               MD5(COALESCE(CAST(o_orderstatus AS VARCHAR), CHR(0) || 'NULL')
                   || CHR(31)
                   || COALESCE(CAST(CASE WHEN o_orderkey % 5 = 0
                                THEN FLOOR(o_totalprice * 110) / 100
                                ELSE o_totalprice END AS VARCHAR), CHR(0) || 'NULL')) AS d
        FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.d IS NULL THEN 'insert'
                WHEN n.d IS NULL THEN 'delete'
                WHEN o.d <> n.d THEN 'update'
                ELSE 'unchanged' END AS change_type
    FROM old_snap o FULL OUTER JOIN new_snap n USING (o_orderkey)
    ORDER BY o_orderkey
    """,
    survey_ids=("D1", "S7"),
)
def d_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC over two simulated versions of `orders` (the
    old snapshot misses keys %3=0; the new one misses %7=0 and reprices
    keys %5=0): every key classified insert/update/delete/unchanged
    via one full-outer join of per-row digests —
    `sources/mutations.snapshot_diff`. Prices floor-scaled so both
    engines render the digest input identically."""
    from etl_generator_demo_spark.sources.mutations import snapshot_diff

    o = t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.floor(F.col("o_totalprice") * 110) / 100
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return snapshot_diff(old, new, ["o_orderkey"]).orderBy("o_orderkey")


@register(
    "x4_rolling_7d_user_spend",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id, user_id, ts,
           ROUND(SUM(value) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ), 2) AS spend_7d,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ) AS n_purchases_7d
    FROM p
    ORDER BY event_id
    """,
    survey_ids=("W3", "X4"),
)
def x4_rolling_7d_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user spend at every purchase — the
    feature-store staple (point-in-time correct rolling aggregates,
    no leakage: the frame ends AT the current event). Spark expresses
    the time-range frame as rangeBetween over MICROSECOND epoch —
    matching the oracle's RANGE INTERVAL over microsecond timestamps
    exactly: second-granularity ordering would both blur the 7-day
    boundary by up to ~1s and pull later same-second purchases into
    the frame as RANGE peers (leakage). One shuffle on user_id.
    ROUND(…, 2) of a sum of 2-decimal inputs is boundary-safe
    cross-engine."""

    p = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    w = (
        Window.partitionBy("user_id")
        # cast first: unix_micros requires TIMESTAMP and the parquet
        # column may infer as TIMESTAMP_NTZ; under the UTC session tz
        # the NTZ->LTZ cast is wall-clock identity either way
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return p.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("spend_7d"),
        F.count(F.lit(1)).over(w).alias("n_purchases_7d"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# D+ — SCD2-style temporal state table from an event stream
# ---------------------------------------------------------------------------
@register(
    "d_scd2_user_state",
    oracle="""
    SELECT user_id,
           event_type AS state,
           CAST(ts AS TIMESTAMP) AS valid_from,
           LEAD(CAST(ts AS TIMESTAMP)) OVER w AS valid_to,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM events
    WHERE user_id <= 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, valid_from, state
    """,
    survey_ids=("D1", "W2"),
)
def d_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: each user's event stream
    becomes closed [valid_from, valid_to) state intervals with an
    is_current flag on the open row — the standard temporal-dimension
    shape a warehouse derives from CDC feeds (the closing UPDATE of the
    previous row is exactly one lead() window, no self-join). Ties on
    ts break by event_id so interval boundaries are deterministic.
    One window shuffle on the natural key; at 100 TB the partition is
    per-user and skew-free."""

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "state")
    )


@register(
    "x4_rolling_7d_active_users",
    oracle="""
    WITH daily AS (
        SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM daily),
    sevd AS (
        SELECT d.day, COUNT(DISTINCT u.user_id) AS active_7d
        FROM days d JOIN daily u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    ),
    oned AS (
        SELECT day, COUNT(DISTINCT user_id) AS active_1d FROM daily GROUP BY day
    )
    SELECT CAST(s.day AS TIMESTAMP) AS day,
           CAST(o.active_1d AS BIGINT) AS active_1d,
           CAST(s.active_7d AS BIGINT) AS active_7d
    FROM sevd s JOIN oned o ON o.day = s.day
    ORDER BY day
    """,
    survey_ids=("X4", "A3", "W3"),
)
def x4_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (rolling DAU/WAU).

    COUNT(DISTINCT) over a window frame is inexpressible in Spark's
    window functions, and the naive fix — collect_set over a RANGE
    frame — holds a per-day user set in one task. Instead: dedup events
    to day grain (user, day), then map-side explode each row to the 7
    window-ends it contributes to, dedup (user, window_end), and count.
    Cost is 7x the DAY-GRAIN relation (users x days), independent of the
    raw event count — the right shape at 100 TB where events >> user-days.
    Window-ends are restricted to observed days (inner join with the
    day dimension, broadcast-sized)."""
    ev = t(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    expanded = (
        daily.select(
            "user_id", "day", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
        )
        .select("user_id", F.date_add("day", F.col("off")).alias("day"))
        .distinct()
    )
    sevd = expanded.groupBy("day").agg(F.count(F.lit(1)).alias("active_7d"))
    oned = daily.groupBy("day").agg(F.count(F.lit(1)).alias("active_1d"))
    return (
        oned.join(sevd, "day")  # inner: drops synthetic window-ends past max(day)
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.col("active_1d").cast("long").alias("active_1d"),
            F.col("active_7d").cast("long").alias("active_7d"),
        )
        .orderBy("day")
    )


@register(
    "x4_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
        FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    mad AS (
        SELECT event_type, QUANTILE_CONT(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR(MIN(d.med) * 10000) AS BIGINT) AS med_e4,
           CAST(FLOOR(MIN(m.mad) * 10000) AS BIGINT) AS mad_e4,
           CAST(COUNT(*) FILTER (
               d.adev > 3 * 1.4826 * m.mad
           ) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    survey_ids=("X4", "A1"),
)
def x4_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate via median absolute deviation — the screen
    that, unlike `x4_value_outliers`' 3-sigma, is itself immune to the
    outliers it hunts (mean/stddev are pulled by the tail; medians are
    not). Flag: |v − median| > 3·1.4826·MAD (1.4826 ≈ the normal
    consistency constant, so the cut reads in sigma units).

    Two exact interpolated medians (grouped percentile — the sorted
    tier; approx_percentile is the documented sketch tier at 100 TB)
    with the tiny per-group model joined back broadcast. Median/MAD
    surface floor-scaled to e4 ints; the flag compares engine-identical
    float64 expressions."""
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.min("med") * 10000).cast("long").alias("med_e4"),
            F.floor(F.min("mad") * 10000).cast("long").alias("mad_e4"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .orderBy("event_type")
    )


SESSION_GAP_S = 1800  # 30 min


def gap_sessionized(ev: DataFrame) -> DataFrame:
    """Shared lag-flag-cumsum sessionizer: append ``session_id`` to an
    event relation carrying (user_id, event_id, ts [, extras]) — a
    session break is an inactivity gap > SESSION_GAP_S, the id is the
    running sum of breaks, gaps compare in microsecond epoch (exact
    integers), ties break on event_id. ONE builder backs
    `x4_gap_sessionization`, `x4_concurrent_sessions` and
    `x4_journey_signatures`, so the gap rule and tiebreak can never
    silently diverge between the session queries (their oracles replay
    the identical algebra)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(us).over(w)
    new_session = F.when(
        prev_us.isNull() | (us - prev_us > SESSION_GAP_S * 1_000_000), 1
    ).otherwise(0)
    return ev.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


@register(
    "x4_gap_sessionization",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE user_id <= 50
    ),
    flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w)
                            > {SESSION_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
        SELECT user_id, event_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS BIGINT) AS duration_us
    FROM sessioned
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    survey_ids=("X4", "W2", "W3"),
)
def x4_gap_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization by inactivity gap (30 min) — the classic
    lag-flag-cumsum idiom: a session break is a gap > threshold, the
    session id is the running sum of breaks. This is the BATCH twin of
    `st_session_windows`' streaming session_window (which the oracle
    checks at merge level); here the oracle replays the identical
    window algebra. Gaps compare in microsecond epoch (exact integers).
    One window shuffle on user_id + one grouped agg — per-user
    partitions, skew-free at 100 TB (hot users are bounded by their own
    event cardinality, and the salted-session variant covers the rest)."""

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 50)
        .select("user_id", "event_id", "ts")
    )
    sessioned = gap_sessionized(ev)
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).cast("long").alias("duration_us"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "session_start",
            "session_end",
            "n_events",
            "duration_us",
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "w_gap_fill_forward",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE user_id <= 10
    ),
    daily AS (
        SELECT user_id, day, SUM(cents) AS spend FROM ev GROUP BY user_id, day
    ),
    spine AS (
        SELECT user_id,
               CAST(UNNEST(generate_series(CAST(mn AS TIMESTAMP),
                                           CAST(mx AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
              FROM daily GROUP BY user_id)
    ),
    joined AS (
        SELECT s.user_id, s.day, d.spend
        FROM spine s LEFT JOIN daily d
          ON d.user_id = s.user_id AND d.day = s.day
    )
    SELECT user_id,
           CAST(day AS TIMESTAMP) AS day,
           spend IS NOT NULL AS observed,
           CAST(COALESCE(last_value(spend IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                AS BIGINT) AS spend_cents_ff
    FROM joined
    ORDER BY user_id, day
    """,
    survey_ids=("W3", "F4", "F1"),
)
def w_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap filling + forward fill — the time-series
    regularization every reporting layer needs: build each series' full
    day spine (sequence + explode, map-side), left-join the observed
    daily totals, then carry the last observation forward with
    last(..., ignorenulls) over an unbounded-preceding frame.

    Daily totals sum in exact cents (BIGINT) so the fill values hash
    engine-identically. The spine explode is bounded by the date span
    per series, not the event count; the only shuffles are the daily
    rollup and the per-series window — both on the series key. Left
    edge (days before a series' first observation) cannot occur since
    each spine starts at the series' own min day; COALESCE(...,0)
    still pins the contract."""

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 10)
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    daily = ev.groupBy("user_id", "day").agg(F.sum("cents").alias("spend"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("day"),
        )
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        joined.select(
            "user_id",
            F.col("day").cast("timestamp").alias("day"),
            F.col("spend").isNotNull().alias("observed"),
            F.coalesce(F.last("spend", ignorenulls=True).over(w), F.lit(0))
            .cast("long")
            .alias("spend_cents_ff"),
        )
        .orderBy("user_id", "day")
    )


@register(
    "x4_concurrent_sessions",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE user_id <= 50
    ),
    flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w)
                            > {SESSION_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
        FROM (
            SELECT user_id, event_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM flagged
        )
        GROUP BY user_id, session_id
    ),
    deltas AS (
        SELECT s AS ts, 1 AS delta FROM sessions
        UNION ALL
        SELECT e AS ts, -1 AS delta FROM sessions
    ),
    merged AS (
        -- simultaneous starts/ends collapse to one net step so the
        -- running sum is well-defined regardless of within-ts order
        SELECT ts, SUM(delta) AS net FROM deltas GROUP BY ts
    ),
    curve AS (
        SELECT ts, SUM(net) OVER (ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM merged
    )
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM curve
    GROUP BY CAST(ts AS DATE)
    ORDER BY day
    """,
    survey_ids=("X4", "W3", "U2"),
)
def x4_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line algorithm as a
    relational plan: session intervals (from `x4_gap_sessionization`'s
    chain) become +1/−1 boundary events, net steps per timestamp merge
    first (making the running sum order-independent within a tick), and
    a cumulative window walks the concurrency curve; MAX per day reads
    the peaks. Capacity-planning's canonical query, no interval
    self-join anywhere (an interval⋈interval overlap join is O(n²) per
    hot window — the sweep is O(n log n) and shuffles only boundary
    events). The concurrency curve is :func:`global_running` — a
    range-partitioned two-phase prefix sum, bit-identical to the
    ``SUM OVER (ORDER BY ts)`` spelling the oracle keeps but with no
    single-partition stage, so the sweep itself now scales; at 100 TB
    you can additionally shard by day and merge peaks as documented in
    SCALE.md."""

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 50)
        .select("user_id", "event_id", "ts")
    )
    sessions = (
        gap_sessionized(ev)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    deltas = sessions.select(F.col("s").alias("ts"), F.lit(1).alias("delta")).unionByName(
        sessions.select(F.col("e").alias("ts"), F.lit(-1).alias("delta"))
    )
    merged = deltas.groupBy("ts").agg(F.sum("delta").alias("net"))
    curve = global_running(
        merged, [F.col("ts").asc()], "net", kind="sum", out_col="conc"
    )
    return (
        curve.groupBy(F.to_date("ts").alias("day"))
        .agg(F.max("conc").cast("long").alias("peak_concurrency"))
        .select(F.col("day").cast("timestamp").alias("day"), "peak_concurrency")
        .orderBy("day")
    )


@register(
    "x4_rfm_scores",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(o_orderdate AS TIMESTAMP)) AS mx FROM orders),
    rfm AS (
        SELECT o_custkey,
               CAST(DATE_DIFF('day', MAX(CAST(o_orderdate AS TIMESTAMP)),
                              (SELECT mx FROM anchor)) AS BIGINT) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey, recency_days, frequency, monetary_cents,
               NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency ASC, o_custkey)     AS f_score,
               NTILE(5) OVER (ORDER BY monetary_cents ASC, o_custkey) AS m_score
        FROM rfm
    )
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_code
    FROM scored
    ORDER BY o_custkey
    """,
    survey_ids=("X4", "W1", "A1"),
)
def x4_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring — the classic feature-engineering rollup:
    per customer, days since last order (vs the corpus max date, so the
    feature is reproducible), order count, lifetime spend in exact
    cents; each dimension NTILE(5)-scored over a deterministic total
    order (higher score = better: recent, frequent, big), composed into
    the 3-digit RFM segment code.

    One grouped aggregate + three EXACT distributed ntile passes over
    the CUSTOMER-grain relation (1/10th the orders cardinality). The
    naive spelling — three ``NTILE(5) OVER (ORDER BY ...)`` global
    windows — funnels the whole rollup through ONE task three times;
    at 100x customer grain that's the single-partition sort Spark
    warns about. Here each score is :func:`global_row_number`
    (range-shuffle + per-partition id, cluster-parallel) fed into the
    closed-form :func:`ntile_expr` — bit-identical NTILE semantics
    (the oracle keeps the window spelling as the exactness anchor),
    zero Window operators, zero single-partition stages. The three
    passes CHAIN (each carries all columns), so no rejoin is needed.
    Spend sums in BIGINT cents so every score boundary is
    engine-identical."""

    orders = t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx")).first().mx
    rfm = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(anchor), F.max("o_orderdate")).cast("long").alias(
            "recency_days"
        ),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    scored, n = rfm, None
    for name, cols in (
        ("r_score", [F.col("recency_days").desc(), F.col("o_custkey").asc()]),
        ("f_score", [F.col("frequency").asc(), F.col("o_custkey").asc()]),
        ("m_score", [F.col("monetary_cents").asc(), F.col("o_custkey").asc()]),
    ):
        scored, total = global_row_number(scored, cols)
        n = total if n is None else n
        scored = scored.withColumn(name, ntile_expr(F.col("_rn"), n, 5)).drop("_rn")
    return (
        scored.select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            "r_score",
            "f_score",
            "m_score",
        )
        .withColumn(
            "rfm_code",
            (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast(
                "long"
            ),
        )
        .orderBy("o_custkey")
    )


@register(
    "w_activity_streaks",
    oracle="""
    WITH daily AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events WHERE user_id <= 100
    ),
    grouped AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
        FROM daily
    ),
    streaks AS (
        SELECT user_id, island, COUNT(*) AS len,
               MIN(day) AS streak_start
        FROM grouped GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(MIN(streak_start) AS TIMESTAMP) AS first_active_day
    FROM streaks
    GROUP BY user_id
    ORDER BY user_id
    """,
    survey_ids=("W1", "W3", "X4"),
)
def w_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity streaks via
    the classic `day − ROW_NUMBER()` island key (consecutive days share
    a constant difference against their rank) — streak counts, longest
    run, total active days. The canonical relational formulation; no
    self-join, no recursion: one dedup to day grain, one rank window,
    two grouped aggregates, all keyed by user."""

    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 100)
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    grouped = daily.withColumn("island", F.date_sub(F.col("day"), rn))
    streaks = grouped.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("streak_start")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.max("len").cast("long").alias("longest_streak"),
            F.sum("len").cast("long").alias("active_days"),
            F.min("streak_start").cast("timestamp").alias("first_active_day"),
        )
        .orderBy("user_id")
    )


@register(
    "j_point_in_time_features",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(ts AS TIMESTAMP) AS ts,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               EPOCH_US(CAST(ts AS TIMESTAMP)) AS us
        FROM events WHERE user_id <= 50
    ),
    feat AS (
        SELECT event_id, user_id, event_type, ts,
               CAST(COALESCE(SUM(cents) OVER (
                   PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS prior_7d_spend_cents,
               CAST(COALESCE(COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS prior_7d_events
        FROM ev
    )
    SELECT event_id, user_id, ts, prior_7d_spend_cents, prior_7d_events
    FROM feat
    WHERE event_type = 'purchase'
    ORDER BY user_id, ts, event_id
    """,
    survey_ids=("J8", "W3", "X4"),
)
def j_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature attachment — the feature-store
    join: every purchase gets the user's trailing-7-day activity
    computed STRICTLY BEFORE the purchase instant (frame ends 1 µs
    before current — same-timestamp peers are excluded, so the label
    event can never leak into its own feature). `x4_rolling_7d_user_
    spend` is the inclusive analytics variant; this is the training
    variant whose off-by-one IS the difference between a valid model
    and silent target leakage. Exact microsecond RANGE frame over
    integer cents; one window shuffle on the user key, features
    computed over all events, emitted on label rows only."""

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 50)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-7 * 86400 * 1_000_000, -1)
    )
    feat = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.coalesce(F.sum("cents").over(w), F.lit(0)).cast("long").alias(
            "prior_7d_spend_cents"
        ),
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).cast("long").alias(
            "prior_7d_events"
        ),
    )
    return (
        feat.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "prior_7d_spend_cents", "prior_7d_events")
        .orderBy("user_id", "ts", "event_id")
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution — credit assignment across the click path
# ---------------------------------------------------------------------------
@register(
    "x4_multitouch_attribution",
    oracle="""
    WITH pairs AS (
        SELECT p.event_id AS purchase_id, p.value AS amount,
               c.event_id AS click_id, c.ts AS click_ts
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 24 HOURS
    ),
    ranked AS (
        SELECT purchase_id, amount, click_id,
               CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY purchase_id ORDER BY click_ts, click_id
               ) AS BIGINT) AS touch_rank
        FROM pairs
    ),
    credited AS (
        SELECT purchase_id, click_id, n_touches, touch_rank, amount,
               1.0 / n_touches AS cl,
               CASE WHEN n_touches = 1 THEN 1.0
                    WHEN n_touches = 2 THEN 0.5
                    WHEN touch_rank = 1 OR touch_rank = n_touches THEN 0.4
                    ELSE 0.2 / (n_touches - 2) END AS cu
        FROM ranked
    )
    SELECT purchase_id, click_id, n_touches, touch_rank,
           ROUND(cl, 6) AS credit_linear,
           ROUND(cu, 6) AS credit_ushaped,
           ROUND(amount * cl, 4) AS rev_linear,
           ROUND(amount * cu, 4) AS rev_ushaped
    FROM credited
    ORDER BY purchase_id, touch_rank
    """,
    survey_ids=("J7", "W1", "F7"),
)
def x4_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: every click in the 24 h before a
    purchase by the same user shares the credit — linear (1/n) and
    U-shaped (40 % first touch, 40 % last, 20 % split across the
    middle; degenerate paths collapse to 1.0 / 0.5-0.5). The
    single-touch tier is the as-of join (``j8_asof_purchase_last_
    click``); this is the full-path tier marketers actually bill by.

    Shape: one equi+range join per user (bounded state — the same
    condition is the streaming state-eviction bound in
    ``streaming/joins.py``), then ONE window pass keyed on purchase_id
    for both the path length and the position rank. Credits are pure
    column arithmetic on (rank, n) — no second pass, no collect. At
    100 TB the join shuffles both event sets once on user_id and the
    window shuffles pairs once on purchase_id; path length is bounded
    by the 24 h window, so no purchase group explodes."""
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("amount"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    pairs = p.join(
        c,
        (p["user_id"] == c["c_user"])
        & (c["click_ts"] <= p["p_ts"])
        & (c["click_ts"] >= p["p_ts"] - F.expr("INTERVAL 24 HOURS")),
    )
    wn = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("click_ts", "click_id")
    ranked = pairs.select(
        "purchase_id",
        "click_id",
        "amount",
        F.count(F.lit(1)).over(wn).cast("long").alias("n_touches"),
        F.row_number().over(wr).cast("long").alias("touch_rank"),
    )
    n, r = F.col("n_touches"), F.col("touch_rank")
    cl = F.lit(1.0) / n
    cu = (
        F.when(n == 1, 1.0)
        .when(n == 2, 0.5)
        .when((r == 1) | (r == n), 0.4)
        .otherwise(F.lit(0.2) / (n - 2))
    )
    return ranked.select(
        "purchase_id",
        "click_id",
        "n_touches",
        "touch_rank",
        F.round(cl, 6).alias("credit_linear"),
        F.round(cu, 6).alias("credit_ushaped"),
        F.round(F.col("amount") * cl, 4).alias("rev_linear"),
        F.round(F.col("amount") * cu, 4).alias("rev_ushaped"),
    ).orderBy("purchase_id", "touch_rank")


# ---------------------------------------------------------------------------
# Journey-signature mining — MATCH_RECOGNIZE-lite over gap sessions
# ---------------------------------------------------------------------------
SIGNATURE_CAP = 12


@register(
    "x4_journey_signatures",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               SUBSTR(event_type, 1, 1) AS initial
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts, initial,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w)
                            > {SESSION_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
        SELECT user_id, event_id, ts, initial,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    ),
    sigs AS (
        SELECT user_id, session_id,
               SUBSTR(STRING_AGG(initial, '' ORDER BY ts, event_id),
                      1, {SIGNATURE_CAP}) AS signature,
               COUNT(*) AS n_events
        FROM sessioned
        GROUP BY user_id, session_id
    )
    SELECT signature,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(AVG(n_events), 2) AS avg_len,
           CAST(SUM(CASE WHEN signature LIKE '%p%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converting
    FROM sigs
    GROUP BY signature
    ORDER BY n_sessions DESC, signature
    LIMIT 20
    """,
    survey_ids=("X4", "W2", "A1", "O4"),
)
def x4_journey_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey-signature mining — the MATCH_RECOGNIZE-shaped question
    ("which event sequences do sessions actually follow, and which of
    them convert?") answered without a pattern engine: gap-sessionize
    (the lag-flag-cumsum idiom shared with ``x4_gap_sessionization``),
    fold each session's event-type initials into an ORDERED signature
    string capped at 12 events, then mine the top-20 signatures with
    session/user counts, average length, and how many contain a
    purchase. The ordered fold is ``sort_array(collect_list(struct))``
    over ONLY the first 12 events of each session (a row_number over
    the same user-keyed ordering gates the collect via
    when(rn <= cap), and collect_list drops the NULLs) — so the
    aggregation state per session is bounded by the cap even for a
    bot user whose events never cross the gap, while n_events still
    counts the full session. Deterministic under any partitioning
    because the sort key (ts, event_id) is total. At 100 TB: one
    window shuffle on user_id (rank rides the same ordering — no
    extra exchange), one session-keyed agg (cap-bounded state), one
    signature-keyed agg (|signatures| << |sessions|), TakeOrdered
    top-20."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.substring("event_type", 1, 1).alias("initial"),
    )
    sessioned = gap_sessionized(ev)
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ranked = sessioned.withColumn("rn", F.row_number().over(ws))
    sigs = (
        ranked.groupBy("user_id", "session_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("rn") <= SIGNATURE_CAP,
                        F.struct("ts", "event_id", "initial"),
                    )
                )
            ).alias("path"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "user_id",
            F.array_join(
                F.transform(F.col("path"), lambda s: s["initial"]), ""
            ).alias("signature"),
            "n_events",
        )
    )
    return (
        sigs.groupBy("signature")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.avg("n_events"), 2).alias("avg_len"),
            F.sum(
                F.when(F.col("signature").contains("p"), 1).otherwise(0)
            ).cast("long").alias("n_converting"),
        )
        .orderBy(F.col("n_sessions").desc(), "signature")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — delta merge vs full recompute
# ---------------------------------------------------------------------------
@register(
    "d_incremental_agg_maintenance",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS priority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               o_orderkey % 101 = 0 AS changed
        FROM orders
    ),
    recomputed AS (
        SELECT priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN changed THEN cents + 500 ELSE cents END)
                    AS BIGINT) AS rev_recomputed
        FROM base GROUP BY priority
    ),
    base_agg AS (
        SELECT priority, CAST(SUM(cents) AS BIGINT) AS rev_base
        FROM base GROUP BY priority
    ),
    delta AS (
        SELECT priority,
               CAST(SUM(cents) AS BIGINT) AS rev_old,
               CAST(SUM(cents + 500) AS BIGINT) AS rev_new
        FROM base WHERE changed GROUP BY priority
    )
    SELECT r.priority, r.n_orders, r.rev_recomputed,
           CAST(b.rev_base - COALESCE(d.rev_old, 0) + COALESCE(d.rev_new, 0)
                AS BIGINT) AS rev_incremental,
           b.rev_base - COALESCE(d.rev_old, 0) + COALESCE(d.rev_new, 0)
               = r.rev_recomputed AS ivm_ok
    FROM recomputed r
    JOIN base_agg b ON b.priority = r.priority
    LEFT JOIN delta d ON d.priority = r.priority
    ORDER BY r.priority
    """,
    survey_ids=("A1", "J4", "D1"),
)
def d_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a grouped SUM/COUNT: when a
    delta batch re-prices a subset of orders (every 101st key, +500
    cents — the simulated CDC batch), the materialized per-priority
    revenue aggregate updates as old − Σdelta_old + Σdelta_new instead
    of rescanning the fact table. Both paths are computed and the row
    carries an ``ivm_ok`` verdict — money is exact integer cents
    (same convention as `f_decimal_money_totals`), so the delta
    algebra holds EXACTLY, not within float tolerance; the oracle
    replays both paths and the hash pins the equality in both engines.

    At 100 TB this is the nightly-pipeline shape that matters: the
    recompute tier scans everything (here only to prove the verdict);
    the maintenance tier scans ONLY the delta batch and merges
    group-level partials — |groups| rows, not |facts|. The merge is a
    left join on the group key; absent groups coalesce to zero-delta."""
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        (F.col("o_orderkey") % 101 == 0).alias("changed"),
    )
    recomputed = base.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(
            F.when(F.col("changed"), F.col("cents") + 500).otherwise(F.col("cents"))
        ).cast("long").alias("rev_recomputed"),
    )
    base_agg = base.groupBy("priority").agg(
        F.sum("cents").cast("long").alias("rev_base")
    )
    delta = (
        base.filter("changed")
        .groupBy("priority")
        .agg(
            F.sum("cents").cast("long").alias("rev_old"),
            F.sum(F.col("cents") + 500).cast("long").alias("rev_new"),
        )
    )
    inc = (
        F.col("rev_base")
        - F.coalesce(F.col("rev_old"), F.lit(0))
        + F.coalesce(F.col("rev_new"), F.lit(0))
    )
    return (
        recomputed.join(base_agg, "priority")
        .join(delta, "priority", "left")
        .select(
            "priority",
            "n_orders",
            "rev_recomputed",
            inc.cast("long").alias("rev_incremental"),
            (inc == F.col("rev_recomputed")).alias("ivm_ok"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Interval-union covered time — merge overlapping activity intervals
# ---------------------------------------------------------------------------
EVENT_SPAN_S = 300


@register(
    "x4_covered_time_per_user",
    oracle=f"""
    WITH iv AS (
        SELECT user_id,
               EPOCH_US(CAST(ts AS TIMESTAMP)) AS s_us,
               EPOCH_US(CAST(ts AS TIMESTAMP)) + {EVENT_SPAN_S} * 1000000 AS e_us,
               event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, s_us, e_us, event_id,
               CASE WHEN MAX(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR s_us > MAX(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s_us, e_us,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island_id
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island_id,
               MAX(e_us) - MIN(s_us) AS covered_us,
               COUNT(*) AS n_events
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(covered_us) AS BIGINT) AS covered_us,
           CAST(SUM(n_events) * {EVENT_SPAN_S} * 1000000 AS BIGINT) AS raw_us,
           CAST(SUM(n_events) * {EVENT_SPAN_S} * 1000000 - SUM(covered_us)
                AS BIGINT) AS overlap_us
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
    """,
    survey_ids=("W2", "W3", "A1"),
)
def x4_covered_time_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals per user: every event opens a 5-minute
    activity interval; overlapping intervals merge, and the report is
    merged-interval count, exact covered time, raw (double-counted)
    time, and the overlap reclaimed — the classic billing/usage
    question ("how long was the user actually active?") that a naive
    SUM over-counts. The merge is the running-MAX island idiom: a new
    island starts when the interval's start passes the max end seen so
    far — which handles nested intervals that plain lag(end) misses.
    All arithmetic in microsecond BIGINTs. Per-user windows + two
    grouped aggs — one user-keyed shuffle, skew-bounded like the
    sessionization family; the global-concurrency sibling is
    `x4_concurrent_sessions` (sweep-line)."""

    iv = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + EVENT_SPAN_S * 1_000_000
        ).alias("e_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max_end = F.max("e_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("s_us") > prev_max_end), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        (F.max("e_us") - F.min("s_us")).alias("covered_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    raw = F.sum("n_events") * EVENT_SPAN_S * 1_000_000
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("covered_us").cast("long").alias("covered_us"),
            raw.cast("long").alias("raw_us"),
            (raw - F.sum("covered_us")).cast("long").alias("overlap_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# A/B experiment readout — deterministic assignment + two-proportion z
# ---------------------------------------------------------------------------
@register(
    "x4_ab_test_lift",
    oracle="""
    WITH assigned AS (
        SELECT user_id,
               CASE WHEN SUBSTR(MD5('ab:' || CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 'A' ELSE 'B' END AS arm,
               MAX(CASE WHEN event_type = 'purchase' AND value >= 150
                        THEN 1 ELSE 0 END) AS converted
        FROM events
        GROUP BY user_id
    ),
    arms AS (
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM assigned GROUP BY arm
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN arm = 'A' THEN n_users END) AS n_a,
            MAX(CASE WHEN arm = 'A' THEN n_converted END) AS c_a,
            MAX(CASE WHEN arm = 'B' THEN n_users END) AS n_b,
            MAX(CASE WHEN arm = 'B' THEN n_converted END) AS c_b
        FROM arms
    )
    SELECT n_a, c_a, n_b, c_b,
           CAST(FLOOR(c_a * 1000000.0 / n_a) AS BIGINT) AS p_a_e6,
           CAST(FLOOR(c_b * 1000000.0 / n_b) AS BIGINT) AS p_b_e6,
           CAST(FLOOR(
               (c_b * 1.0 / n_b - c_a * 1.0 / n_a)
               / SQRT(((c_a + c_b) * 1.0 / (n_a + n_b))
                      * (1 - (c_a + c_b) * 1.0 / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)) * 10000
           ) AS BIGINT) AS z_e4,
           ABS((c_b * 1.0 / n_b - c_a * 1.0 / n_a)
               / SQRT(((c_a + c_b) * 1.0 / (n_a + n_b))
                      * (1 - (c_a + c_b) * 1.0 / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant
    FROM wide
    """,
    survey_ids=("A1", "A5", "F7"),
)
def x4_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users assign to arms by a DETERMINISTIC
    hash gate (first md5 hex digit of a salted user id, ~50/50 — the
    same layout-independent assignment discipline as
    `x4_sample_docs`, because seeded RNG re-randomizes when the
    partitioning changes and silently breaks the experiment), per-user
    conversion = any HIGH-VALUE purchase (>= 150 — "any purchase" is
    degenerate on the fixture: every user buys, pooled variance hits
    zero and the z statistic divides by it), then the
    two-proportion pooled z-test
    with the decision at |z| > 1.96. All inputs to the statistic are
    exact integer counts; the z lands in e4 fixed point (single
    identical double expression both engines). One user-grain
    aggregate + one 2-row arm rollup — the readout is O(1) rows at any
    event volume."""
    assigned = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") >= 150),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            F.when(
                F.substring(
                    F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                    1,
                    1,
                ).isin(*"01234567"),
                "A",
            )
            .otherwise("B")
            .alias("arm"),
            "converted",
        )
    )
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("n_converted"))).alias("c_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("n_converted"))).alias("c_b"),
    )
    pa = F.col("c_a") * 1.0 / F.col("n_a")
    pb = F.col("c_b") * 1.0 / F.col("n_b")
    pp = (F.col("c_a") + F.col("c_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    z = (pb - pa) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.floor(F.col("c_a") * 1_000_000.0 / F.col("n_a")).cast("long").alias("p_a_e6"),
        F.floor(F.col("c_b") * 1_000_000.0 / F.col("n_b")).cast("long").alias("p_b_e6"),
        F.floor(z * 10_000).cast("long").alias("z_e4"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival — time to first high-value purchase, censored
# ---------------------------------------------------------------------------
@register(
    "x4_kaplan_meier_conversion",
    oracle="""
    WITH horizon AS (
        SELECT MAX(CAST(ts AS TIMESTAMP)) AS h FROM events
    ),
    signups AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS st
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
        SELECT s.user_id,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.value >= 150
                             AND CAST(e.ts AS TIMESTAMP) >= s.st
                        THEN CAST(e.ts AS TIMESTAMP) END) AS pt,
               ANY_VALUE(s.st) AS st
        FROM signups s JOIN events e ON e.user_id = s.user_id
        GROUP BY s.user_id
    ),
    subjects AS (
        SELECT user_id,
               pt IS NOT NULL AS is_event,
               CAST(CASE WHEN pt IS NOT NULL
                         THEN DATE_DIFF('day', st, pt)
                         ELSE DATE_DIFF('day', st, horizon.h) END AS BIGINT) AS t
        FROM conv, horizon
    ),
    grid AS (
        SELECT t,
               CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leaving
        FROM subjects GROUP BY t
    ),
    risk AS (
        SELECT t, d,
               CAST((SELECT COUNT(*) FROM subjects)
                    - COALESCE(SUM(leaving) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_at_risk
        FROM grid
    ),
    terms AS (
        SELECT t, d, n_at_risk,
               CAST(FLOOR(LN(1.0 - d * 1.0 / n_at_risk) * 1000000000) AS BIGINT)
                   AS logterm_e9
        FROM risk WHERE d > 0 AND d < n_at_risk
    )
    SELECT t AS t_days, d AS n_events, n_at_risk,
           CAST(FLOOR(EXP(SUM(logterm_e9) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / 1000000000.0) * 1000000) AS BIGINT) AS surv_e6
    FROM terms
    ORDER BY t_days
    """,
    survey_ids=("A1", "W3", "J7"),
)
def x4_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for days-from-signup to first
    HIGH-VALUE purchase, right-censored at the observation horizon —
    the churn/conversion-timing estimator that handles "hasn't
    converted YET" correctly (dropping censored users biases the curve
    down; this is the standard fix). Exactness trick: Π(1 − dᵢ/nᵢ)
    is order-sensitive in floats, so each factor's LOG floors to an e9
    BIGINT and the running product becomes an INTEGER cumulative sum —
    deterministic under any partitioning — exponentiated once per
    output row (identical ints → identical double → e6 floor).

    Shape: one user-grain aggregate (events cross the wire once),
    then everything — the (t, d, at-risk) grid, the cumulative-hazard
    window, the curve — runs on the distinct-day relation (|days|
    rows). The at-risk count is total − cumulative leavers, not a
    per-t rescan. Degenerate factors (d = n, survival hits 0) are
    excluded from the log-space walk by the same rule both engines
    apply."""

    ev = t(spark, sf_dir, "events")
    horizon = ev.agg(F.max(F.col("ts").cast("timestamp")).alias("h"))
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("timestamp")).alias("st"))
    )
    conv = (
        signups.join(ev, "user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 150)
                    & (F.col("ts").cast("timestamp") >= F.col("st")),
                    F.col("ts").cast("timestamp"),
                )
            ).alias("pt"),
            F.first("st").alias("st"),
        )
    )
    subjects = conv.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.col("pt").isNotNull().alias("is_event"),
        F.when(
            F.col("pt").isNotNull(), F.datediff(F.col("pt"), F.col("st"))
        )
        .otherwise(F.datediff(F.col("h"), F.col("st")))
        .cast("long")
        .alias("t"),
    )
    grid = subjects.groupBy("t").agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0)).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    total = subjects.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        grid.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            (
                F.col("n_total")
                - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
            ).cast("long"),
        )
        .filter((F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")))
    )
    terms = risk.withColumn(
        "logterm_e9",
        F.floor(
            F.log(1.0 - F.col("d") * 1.0 / F.col("n_at_risk")) * 1_000_000_000
        ).cast("long"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("t").alias("t_days"),
        F.col("d").alias("n_events"),
        "n_at_risk",
        F.floor(
            F.exp(F.sum("logterm_e9").over(w_cum) / 1_000_000_000.0) * 1_000_000
        ).cast("long").alias("surv_e6"),
    ).orderBy("t_days")


# ---------------------------------------------------------------------------
# Mann–Kendall trend test — nonparametric monotone-trend monitor
# ---------------------------------------------------------------------------
@register(
    "x4_mann_kendall_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.rev_cents > a.rev_cents THEN 1
                             WHEN b.rev_cents < a.rev_cents THEN -1
                             ELSE 0 END) AS BIGINT) AS s
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    ties AS (
        SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
            AS tie_term
        FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev_cents)
        WHERE t > 1
    )
    SELECT n.n AS n_days, s.s AS s_stat,
           CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS BIGINT)
               AS var18,
           CAST(FLOOR(
               (s.s - CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1 ELSE 0 END)
               / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term) / 18.0)
               * 10000) AS BIGINT) AS z_e4,
           ABS((s.s - CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1 ELSE 0 END)
               / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term) / 18.0))
               > 1.96 AS trending
    FROM s, n, ties
    """,
    survey_ids=("A2", "J7", "F7"),
)
def x4_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test on the daily purchase-revenue
    series — "is revenue actually drifting up, or is that noise?"
    asked without assuming normality or linearity (the monitor
    statisticians reach for on skewed daily metrics). S = Σ
    sign(x_j − x_i) over ordered day pairs is EXACT integer
    arithmetic; the tie-corrected variance 18·Var = n(n−1)(2n+5) −
    Σt(t−1)(2t+5) is exact integers too, so the only float is the
    final continuity-corrected z (identical expression both engines,
    e4-floored). The pairwise join runs on the DAY GRID (|days|² pairs
    — 30 days = 435 pairs regardless of event volume); the full-data
    pass is the one daily rollup in exact cents."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy(F.to_date(F.col("ts").cast("timestamp")).alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
        # materialize the |days|-row series ONCE: the pairwise S, the
        # count, and the tie correction all derive from it
        .localCheckpoint()
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, F.col("a.day") < F.col("b.day"))
        .agg(
            F.sum(
                F.when(F.col("b.rev_cents") > F.col("a.rev_cents"), 1)
                .when(F.col("b.rev_cents") < F.col("a.rev_cents"), -1)
                .otherwise(0)
            ).cast("long").alias("s")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        daily.groupBy("rev_cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).cast("long").alias("tie_term")
        )
    )
    sgn = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    )
    z = (F.col("s") - sgn) / F.sqrt(var18 / 18.0)
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            var18.cast("long").alias("var18"),
            F.floor(z * 10_000).cast("long").alias("z_e4"),
            (F.abs(z) > 1.96).alias("trending"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint — where did the daily metric shift?
# ---------------------------------------------------------------------------
@register(
    "x4_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev_cents) AS BIGINT) AS total
        FROM daily
    ),
    walk AS (
        SELECT day,
               CAST(tot.n * SUM(rev_cents) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - ROW_NUMBER() OVER (ORDER BY day) * tot.total
                    AS BIGINT) AS cusum_scaled
        FROM daily, tot
    )
    SELECT CAST(day AS TIMESTAMP) AS change_day,
           (SELECT n FROM tot) AS n_days,
           CAST(ABS(cusum_scaled) AS BIGINT) AS peak_abs_scaled,
           CASE WHEN cusum_scaled < 0 THEN 'up' ELSE 'down' END AS shift_direction
    FROM walk
    ORDER BY ABS(cusum_scaled) DESC, day
    LIMIT 1
    """,
    survey_ids=("W3", "A2", "O4"),
)
def x4_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint on the daily revenue series — WHERE did the
    metric's level shift? (Mann–Kendall above answers WHETHER it
    drifts; together they are the metric-monitoring pair.) The
    classic float CUSUM walks Σ(xᵢ − x̄), which is order-sensitive and
    needs a fractional mean; scaling by n makes every step exact:
    cusum_scaled(k) = n·prefix(k) − k·total, pure BIGINT. The
    changepoint is the argmax |cusum_scaled| (earliest day on ties —
    total order), direction from the peak's sign (a negative trough
    means the early days ran below the mean: the level shifted UP
    after that day). One daily rollup in exact cents; the walk is a
    cumulative window over the |days| grid; TakeOrdered argmax."""

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy(F.to_date(F.col("ts").cast("timestamp")).alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
        .localCheckpoint()
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev_cents").cast("long").alias("total"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wr = Window.orderBy("day")
    walk = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        (
            F.col("n") * F.sum("rev_cents").over(w)
            - F.row_number().over(wr) * F.col("total")
        ).cast("long").alias("cusum_scaled"),
    )
    return (
        walk.select(
            F.col("day").cast("timestamp").alias("change_day"),
            F.col("n").alias("n_days"),
            F.abs(F.col("cusum_scaled")).cast("long").alias("peak_abs_scaled"),
            F.when(F.col("cusum_scaled") < 0, "up").otherwise("down")
            .alias("shift_direction"),
        )
        .orderBy(F.col("peak_abs_scaled").desc(), "change_day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Floor-capped running balance — the non-linear recursion boundary
# ---------------------------------------------------------------------------
@register(
    "x4_capped_running_balance",
    oracle="""
    WITH RECURSIVE flows AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                    ELSE -CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS delta,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS rn
        FROM events
        WHERE user_id <= 20 AND event_type IN ('purchase', 'error')
    ),
    walk AS (
        SELECT user_id, event_id, ts, delta, rn,
               GREATEST(CAST(0 AS BIGINT), delta) AS balance
        FROM flows WHERE rn = 1
        UNION ALL
        SELECT f.user_id, f.event_id, f.ts, f.delta, f.rn,
               GREATEST(CAST(0 AS BIGINT), w.balance + f.delta)
        FROM flows f JOIN walk w ON f.user_id = w.user_id AND f.rn = w.rn + 1
    )
    SELECT user_id, event_id, delta, CAST(balance AS BIGINT) AS balance_cents
    FROM walk
    ORDER BY user_id, rn
    """,
    survey_ids=("X4", "W3", "U1"),
)
def x4_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running account balance that can never go below zero (credits =
    purchases, debits = errors, floor at 0) — the canonical
    NON-LINEAR recursion: because the floor clamps, bal_k =
    max(0, bal_{k-1} + Δ_k) does NOT decompose into any prefix
    aggregate, so no window frame can express it. This query marks the
    engine's documented boundary: linear recurrences get exact window
    rewrites (`w_ewma_order_totals`' dyadic trick), non-linear ones
    run as ONE Arrow `applyInPandas` pass per key with an internal
    sort — deterministic under any partitioning, state O(1) per key,
    integer cents so the walk is exact. The oracle replays the same
    walk as a per-rank recursive CTE (O(max rows per key) iterations —
    exactly why the distributed engine does NOT use that spelling).

    At 100 TB the per-user walk is embarrassingly parallel across
    users (one shuffle on user_id); a single user's history streams
    through one task in timestamp order."""
    ev = (
        t(spark, sf_dir, "events")
        .filter((F.col("user_id") <= 20) & F.col("event_type").isin("purchase", "error"))
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + 0.5).cast("long"),
            )
            .otherwise(-F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .alias("delta"),
        )
    )

    def walk(pdf):
        import pandas as pd  # local: self-contained for executor workers

        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        bal = 0
        out = []
        for d in pdf["delta"].astype("int64"):
            bal = max(0, bal + int(d))
            out.append(bal)
        pdf["balance_cents"] = pd.Series(out, dtype="int64")
        return pdf[["user_id", "event_id", "delta", "balance_cents", "ts"]]

    return (
        ev.groupBy("user_id")
        .applyInPandas(
            walk,
            "user_id long, event_id long, delta long, balance_cents long, ts timestamp",
        )
        .orderBy("user_id", "ts", "event_id")
        .select("user_id", "event_id", "delta", "balance_cents")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — the books-cooked screen
# ---------------------------------------------------------------------------
@register(
    "x4_benford_digit_audit",
    oracle="""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS BIGINT) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    expected AS (
        SELECT UNNEST(RANGE(1, 10)) AS d
    )
    SELECT e.d AS digit,
           COALESCE(o.n_obs, 0) AS n_obs,
           CAST(FLOOR(LOG10(1.0 + 1.0 / e.d) * tot.n) AS BIGINT) AS n_expected,
           CAST(FLOOR(ABS(COALESCE(o.n_obs, 0) * 1000000.0 / tot.n
                          - LOG10(1.0 + 1.0 / e.d) * 1000000.0)) AS BIGINT)
               AS abs_dev_e6
    FROM expected e
    LEFT JOIN obs o ON o.d = e.d
    CROSS JOIN tot
    ORDER BY digit
    """,
    survey_ids=("A1", "F5", "F7"),
)
def x4_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals — the classic
    forensic screen (organic monetary amounts follow P(d)=log₁₀(1+1/d);
    fabricated ones usually don't). Per digit 1-9: observed count,
    expected count, and the absolute frequency deviation in e6 — the
    auditor reads the max deviation. The digit grid is COMPLETED
    (absent digits report 0 against their full expectation — dropping
    them hides exactly the anomaly this screen exists to catch). One
    map-combined 9-group aggregate over the scan; everything after is
    9 rows."""
    digits = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
            ).cast("long").alias("d")
        )
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    expected = spark.range(1, 10).select(F.col("id").cast("long").alias("digit"))
    p = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        expected.join(obs, expected["digit"] == obs["d"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.floor(p * F.col("n")).cast("long").alias("n_expected"),
            F.floor(
                F.abs(
                    F.coalesce(F.col("n_obs"), F.lit(0)) * 1_000_000.0 / F.col("n")
                    - p * 1_000_000.0
                )
            ).cast("long").alias("abs_dev_e6"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Autocorrelation function — exact integer ACF of the daily series
# ---------------------------------------------------------------------------
ACF_MAX_LAG = 7


@register(
    "x4_daily_revenue_acf",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS rev
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev) AS BIGINT) AS total
        FROM daily
    ),
    dev AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS idx,
               CAST(tot.n * rev - tot.total AS BIGINT) AS dv
        FROM daily, tot
    ),
    lags AS (SELECT UNNEST(RANGE(1, {ACF_MAX_LAG} + 1)) AS lag),
    num AS (
        SELECT l.lag AS lag,
               CAST(SUM(a.dv * b.dv) AS BIGINT) AS num_k,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON b.idx = a.idx + l.lag
        GROUP BY l.lag
    ),
    den AS (SELECT CAST(SUM(dv * dv) AS BIGINT) AS num_0 FROM dev)
    SELECT num.lag, num.n_pairs,
           CAST(FLOOR(num.num_k * 1000000.0 / den.num_0) AS BIGINT) AS acf_e6
    FROM num, den
    ORDER BY num.lag
    """,
    survey_ids=("W2", "J7", "A2"),
)
def x4_daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1-7 — the
    weekly-seasonality detector that closes the time-series monitor
    kit (Mann–Kendall: trend; CUSUM: level shift; ACF: periodicity).
    Deviations scale by n to stay integer (dv = n·x − total, the CUSUM
    trick), so lag products and their sums are exact BIGINTs; revenue
    aggregates in whole dollars to keep dv² inside int64 headroom at
    large SFs (documented bound: |dv| ≲ n·maxdaily). ACF_k =
    ⌊num_k·10⁶/num_0⌋ — one integer division, identical both engines.
    The lag join runs on the |days| grid; the only full-data pass is
    the daily rollup."""

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy(F.to_date(F.col("ts").cast("timestamp")).alias("day"))
        .agg(F.sum(F.floor("value").cast("long")).cast("long").alias("rev"))
        .localCheckpoint()
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev").cast("long").alias("total"),
    )
    w = Window.orderBy("day")
    dev = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(w).alias("idx"),
            (F.col("n") * F.col("rev") - F.col("total")).cast("long").alias("dv"),
        )
        .localCheckpoint()
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("long").alias("lag"))
    a, b = dev.alias("a"), dev.alias("b")
    num = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("b.idx") == F.col("a.idx") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("a.dv") * F.col("b.dv")).cast("long").alias("num_k"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    den = dev.agg(F.sum(F.col("dv") * F.col("dv")).cast("long").alias("num_0"))
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.floor(F.col("num_k") * 1_000_000.0 / F.col("num_0"))
            .cast("long").alias("acf_e6"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Forecast baseline backtest — naive vs seasonal-naive MAE
# ---------------------------------------------------------------------------
@register(
    "x4_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS rev
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    lagged AS (
        SELECT day, rev,
               LAG(rev, 1) OVER (ORDER BY day) AS prev1,
               LAG(rev, 7) OVER (ORDER BY day) AS prev7
        FROM daily
    ),
    scored AS (
        SELECT rev, prev1, prev7 FROM lagged
        WHERE prev1 IS NOT NULL AND prev7 IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(ABS(rev - prev1)) AS BIGINT) AS sae_naive,
           CAST(SUM(ABS(rev - prev7)) AS BIGINT) AS sae_seasonal,
           CAST(SUM(rev - prev1) AS BIGINT) AS bias_naive,
           CAST(SUM(rev - prev7) AS BIGINT) AS bias_seasonal,
           SUM(ABS(rev - prev7)) < SUM(ABS(rev - prev1)) AS weekly_signal
    FROM scored
    """,
    survey_ids=("W2", "A2", "F7"),
)
def x4_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline backtest on daily revenue: the two baselines
    every forecasting effort must beat — naive (yesterday) and
    seasonal-naive (same weekday last week) — scored by sum-of-
    absolute-errors and signed bias over the days where BOTH are
    defined (same scoring window, or the comparison is meaningless).
    ``weekly_signal`` = the seasonal baseline wins, i.e. the series
    has enough weekly structure that `q6_forecast_revenue`'s
    regression should carry day-of-week features. Whole-dollar
    integers end to end — the errors, sums, and verdict hash exactly.
    Two lag windows over the |days| grid; one daily rollup is the
    only full-data pass."""

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy(F.to_date(F.col("ts").cast("timestamp")).alias("day"))
        .agg(F.sum(F.floor("value").cast("long")).cast("long").alias("rev"))
    )
    w = Window.orderBy("day")
    scored = (
        daily.select(
            "rev",
            F.lag("rev", 1).over(w).alias("prev1"),
            F.lag("rev", 7).over(w).alias("prev7"),
        )
        .filter(F.col("prev1").isNotNull() & F.col("prev7").isNotNull())
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("rev") - F.col("prev1"))).cast("long").alias("sae_naive"),
        F.sum(F.abs(F.col("rev") - F.col("prev7"))).cast("long").alias("sae_seasonal"),
        F.sum(F.col("rev") - F.col("prev1")).cast("long").alias("bias_naive"),
        F.sum(F.col("rev") - F.col("prev7")).cast("long").alias("bias_seasonal"),
        (
            F.sum(F.abs(F.col("rev") - F.col("prev7")))
            < F.sum(F.abs(F.col("rev") - F.col("prev1")))
        ).alias("weekly_signal"),
    )


# ---------------------------------------------------------------------------
# Round 7: rank-statistics suite — Spearman, Gini-by-group, burstiness,
# market concentration. All exact-integer / deterministic-IEEE idioms
# (ranks are permutations under total orders with unique tiebreakers;
# every float op is computed from exact integer sums in the same
# operation order on both engines).
# ---------------------------------------------------------------------------


@register(
    "x4_spearman_rank_corr",
    oracle="""
    WITH m AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM events GROUP BY user_id
    ),
    r AS (
        SELECT ROW_NUMBER() OVER (ORDER BY a, user_id) AS ra,
               ROW_NUMBER() OVER (ORDER BY b, user_id) AS rb
        FROM m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
           CAST(FLOOR((1 - 6.0 * CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT)
                           / (COUNT(*) * (COUNT(*) * COUNT(*) - 1.0)))
                      * 1000000) AS BIGINT) AS rho_e6
    FROM r
    """,
    survey_ids=("X4", "W1", "A2"),
)
def x4_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two per-user engagement
    metrics (click count vs purchase count) — the monotone-association
    test data curation uses where Pearson is distorted by heavy tails.
    Ranks are ROW_NUMBER permutations under (metric, user_id) total
    orders — both metrics are exact integers, so unlike ranking a
    float SUM the order can never flip on summation order — and ρ
    comes from ``stats.spearman`` (NULL for a single user).

    Scale: the per-user aggregate map-combines; BOTH rankings run
    through the distributed exact ``global_row_number`` (range shuffle
    + per-partition rebase — never a single-partition window); the
    final scalar is one map-combined reduce. The rank join keys on
    user_id, high-cardinality uniform."""
    from .stats import spearman

    ev = t(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    return spearman(m, "user_id", "a", "b").select(
        F.col("n").alias("n_users"), "sum_d2", "rho_e6"
    )


@register(
    "x4_gini_doclen_by_lang",
    oracle="""
    WITH r AS (
        SELECT lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n_chars, doc_id) AS i
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(FLOOR((2.0 * CAST(SUM(i * n_chars) AS BIGINT)
                           / (COUNT(*) * CAST(SUM(n_chars) AS BIGINT))
                       - (COUNT(*) + 1.0) / COUNT(*)) * 1000000)
                AS BIGINT) AS gini_e6
    FROM r
    GROUP BY lang
    ORDER BY lang
    """,
    survey_ids=("X4", "W1", "A1"),
)
def x4_gini_doclen_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini coefficient of document length — the
    length-inequality audit that flags a language slice dominated by a
    few huge documents before it skews token budgets. Same rank
    formula as the key-skew audit (G = 2Σi·xᵢ/(nΣx) − (n+1)/n, exact
    BIGINT sums), but the rank is PER GROUP — computed scale-safe as
    ONE global rank over (lang, n_chars, doc_id) rebased by each
    group's minimum rank: ``global_row_number`` never single-partition
    funnels, and the per-lang minima are a |langs|-row broadcast. A
    per-group window would instead funnel each language through one
    task — exactly the skew this query is built to detect."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("x")
    )
    ranked, _n = global_row_number(
        d, [F.col("lang").asc(), F.col("x").asc(), F.col("doc_id").asc()],
        rn_col="grn",
    )
    mins = ranked.groupBy("lang").agg(F.min("grn").alias("_mn"))
    i = F.col("grn") - F.col("_mn") + 1
    per = (
        ranked.join(F.broadcast(mins), "lang")
        .select("lang", "x", i.alias("i"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("x").cast("long").alias("total_chars"),
            F.sum(F.col("i") * F.col("x")).cast("long").alias("_s1"),
        )
    )
    return per.select(
        "lang",
        "n_docs",
        "total_chars",
        F.floor(
            (
                2.0 * F.col("_s1") / (F.col("n_docs") * F.col("total_chars"))
                - (F.col("n_docs") + 1.0) / F.col("n_docs")
            )
            * 1_000_000
        )
        .cast("long")
        .alias("gini_e6"),
    ).orderBy("lang")


@register(
    "x4_burstiness_per_user",
    oracle="""
    WITH g AS (
        SELECT user_id,
               CAST(epoch_us(ts) // 1000000 AS BIGINT)
               - LAG(CAST(epoch_us(ts) // 1000000 AS BIGINT))
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id) AS gap
        FROM events
    ),
    s AS (
        SELECT user_id,
               CAST(COUNT(gap) AS BIGINT) AS n_gaps,
               CAST(SUM(gap) AS BIGINT) AS sum_gap_s,
               CAST(SUM(gap * gap) AS BIGINT) AS q
        FROM g WHERE gap IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, n_gaps, sum_gap_s,
           CAST(FLOOR(
               (SQRT(CAST(n_gaps * q - sum_gap_s * sum_gap_s AS DOUBLE))
                - sum_gap_s) * 1000000.0
               / (SQRT(CAST(n_gaps * q - sum_gap_s * sum_gap_s AS DOUBLE))
                  + sum_gap_s)
           ) AS BIGINT) AS b_e6
    FROM s
    WHERE n_gaps >= 10
    ORDER BY b_e6 DESC, user_id
    LIMIT 25
    """,
    survey_ids=("X4", "W2", "A1", "O4"),
)
def x4_burstiness_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness coefficient B = (σ−μ)/(σ+μ) over
    inter-event gaps (Goh–Barabási): B→−1 for clockwork activity,
    B→+1 for extreme bursts — the signal that separates organic users
    from schedulers/bots in training-data curation. Gaps are exact
    integer SECONDS (epoch-µs integer-divided, lag over a per-user
    total order); σ and μ come from the integer sums (n, Σg, Σg²) via
    σ/μ = sqrt(n·Q − S²)/S, so the only float ops are one
    IEEE-exact-rounded sqrt and one division applied in the identical
    order on both engines. Top-25 bursty users compiles to
    TakeOrdered.

    Scale: the lag window is keyed per user (bounded partitions); the
    moment aggregate map-combines. Σg² stays in BIGINT up to ~month
    gaps at billion-event grain; beyond that the same sums carry as
    DECIMAL(38,0) with an identical plan."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        )
        .select(
            "user_id",
            (
                F.expr("us div 1000000") - F.lag(F.expr("us div 1000000")).over(w)
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    s = g.groupBy("user_id").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("sum_gap_s"),
        F.sum(F.col("gap") * F.col("gap")).cast("long").alias("q"),
    ).filter(F.col("n_gaps") >= 10)
    disp = F.sqrt(
        (F.col("n_gaps") * F.col("q") - F.col("sum_gap_s") * F.col("sum_gap_s"))
        .cast("double")
    )
    return (
        s.select(
            "user_id",
            "n_gaps",
            "sum_gap_s",
            F.floor(
                (disp - F.col("sum_gap_s"))
                * 1_000_000.0
                / (disp + F.col("sum_gap_s"))
            )
            .cast("long")
            .alias("b_e6"),
        )
        .orderBy(F.col("b_e6").desc(), "user_id")
        .limit(25)
    )


@register(
    "x4_herfindahl_source_concentration",
    oracle="""
    WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang, source
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST((CAST(SUM(n * n) AS BIGINT) * 1000000)
                // (CAST(SUM(n) AS BIGINT) * CAST(SUM(n) AS BIGINT))
                AS BIGINT) AS hhi_e6,
           CAST((CAST(SUM(n) AS BIGINT) * CAST(SUM(n) AS BIGINT) * 1000000)
                // CAST(SUM(n * n) AS BIGINT)
                AS BIGINT) AS eff_sources_e6
    FROM c
    GROUP BY lang
    ORDER BY lang
    """,
    survey_ids=("X4", "A1"),
)
def x4_herfindahl_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of each language's documents
    across sources, plus the effective source count (1/HHI) — the
    diversification audit that flags a language slice secretly
    single-sourced (HHI→1e6) before a crawl outage or dedup pass
    silently deletes the slice. Pure integer arithmetic end to end:
    counts, squared-count sums, and e6 fixed-point via INTEGER
    division — no float anywhere, so the hash can't drift. Two
    map-combined aggregates on (lang, source) then (lang); nothing
    else. The same plan at 100 TB is two partial-agg shuffles of at
    most |lang × source| rows. The squared terms (Σn² and n_docs²·1e6)
    are carried as DECIMAL(38,0): int64 overflows n_docs²·1e6 once a
    language slice exceeds ~3.03M docs (ANSI-mode ARITHMETIC_OVERFLOW
    at 100 TB, silent wraparound otherwise); 38 digits hold to
    ~10¹⁶ docs per slice."""
    c = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias("_ss"),
    )
    return s.select(
        "lang",
        "n_sources",
        "n_docs",
        F.expr(
            "CAST((_ss * 1000000) DIV (CAST(n_docs AS DECIMAL(38,0)) * n_docs)"
            " AS LONG)"
        ).alias("hhi_e6"),
        F.expr(
            "CAST((CAST(n_docs AS DECIMAL(38,0)) * n_docs * 1000000) DIV _ss"
            " AS LONG)"
        ).alias("eff_sources_e6"),
    ).orderBy("lang")


@register(
    "x4_wilson_conversion_rank",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
        FROM events GROUP BY user_id
    )
    SELECT user_id, n, x,
           CAST(FLOOR(
               ((CAST(x AS DOUBLE) / n) + 2.0 / n
                - 2.0 * SQRT((CAST(x AS DOUBLE) / n)
                             * (1.0 - CAST(x AS DOUBLE) / n) / n
                             + 1.0 / (CAST(n AS DOUBLE) * n)))
               / (1.0 + 4.0 / n) * 1000000
           ) AS BIGINT) AS wilson_lb_e6
    FROM s
    WHERE n >= 20
    ORDER BY wilson_lb_e6 DESC, user_id
    LIMIT 25
    """,
    survey_ids=("X4", "A1", "O4"),
)
def x4_wilson_conversion_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank users by the WILSON SCORE lower bound of their conversion
    rate (purchases per event) — the small-sample-honest ranking
    statistic (a 1/1 user must NOT outrank a 95/100 user, which the
    raw proportion does): used for review scores, CTR ranking, and
    data-source reliability ordering. z is fixed at 2 (the standard
    "rule of two"), so z² = 4 and every constant in the bound
    (p + 2/n − 2·√(p(1−p)/n + 1/n²)) / (1 + 4/n)
    is exactly representable — the whole expression is deterministic
    IEEE arithmetic from exact BIGINT counts evaluated in the
    identical operation order on both engines, then e6-floored. One
    map-combined aggregate; top-25 compiles to TakeOrdered."""
    s = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
        .filter(F.col("n") >= 20)
    )
    p = F.col("x").cast("double") / F.col("n")
    nn = F.col("n")
    bound = (
        (p + 2.0 / nn - 2.0 * F.sqrt(p * (1.0 - p) / nn + 1.0 / (nn.cast("double") * nn)))
        / (1.0 + 4.0 / nn)
    )
    return (
        s.select(
            "user_id",
            "n",
            "x",
            F.floor(bound * 1_000_000).cast("long").alias("wilson_lb_e6"),
        )
        .orderBy(F.col("wilson_lb_e6").desc(), "user_id")
        .limit(25)
    )


@register(
    "x4_mutual_information_lang_source",
    oracle="""
    WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS nij
        FROM documents GROUP BY lang, source
    ),
    r AS (SELECT lang, CAST(SUM(nij) AS BIGINT) AS ni FROM c GROUP BY lang),
    l AS (SELECT source, CAST(SUM(nij) AS BIGINT) AS nj FROM c GROUP BY source),
    tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM c),
    contrib AS (
        SELECT c.nij,
               CAST(c.nij * CAST(FLOOR(LN(CAST(c.nij AS DOUBLE) * n
                                        / (CAST(ni AS DOUBLE) * nj))
                                       * 1000000000) AS BIGINT) AS BIGINT)
                   AS w
        FROM c JOIN r USING (lang) JOIN l USING (source) CROSS JOIN tot
    )
    SELECT (SELECT n FROM tot) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS mi_weighted_e9,
           CAST(FLOOR(CAST(SUM(w) AS DOUBLE)
                      / (CAST((SELECT n FROM tot) AS DOUBLE) * 1000000000)
                      * 1000000) AS BIGINT) AS mi_nats_e6
    FROM contrib
    """,
    survey_ids=("X4", "A1", "J1"),
)
def x4_mutual_information_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between language and source over the
    document contingency table — the effect-size companion to the
    chi² independence test (`x4_chi2_lang_source`): MI says HOW MANY
    nats knowing the source tells you about the language, the number
    that decides whether stratified sampling must condition on both.
    MI = (1/N)·Σ nᵢⱼ·ln(nᵢⱼ·N / (nᵢ·nⱼ)); each cell's log is
    e9-floored to an exact BIGINT BEFORE the weighted sum (the
    Kaplan–Meier idiom), so the aggregate is order-independent and
    engine-exact; the final normalization is one deterministic float
    division. Plan: the contingency aggregate map-combines ONCE; the
    marginals are window sums over the cells relation itself —
    |cells| ≤ |lang|×|source| is a bounded DOMAIN product, so even
    the global-total window partition is a constant-size relation
    (the rejoin spelling would rescan documents once per marginal —
    the round-7 spelling-sweep anti-pattern)."""
    c = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
    )
    contrib = c.select(
        F.sum("nij").over(Window.partitionBy()).cast("long").alias("n"),
        (
            F.col("nij")
            * F.floor(
                F.log(
                    F.col("nij").cast("double")
                    * F.sum("nij").over(Window.partitionBy())
                    / (
                        F.sum("nij").over(Window.partitionBy("lang")).cast("double")
                        * F.sum("nij").over(Window.partitionBy("source"))
                    )
                )
                * 1_000_000_000
            ).cast("long")
        )
        .cast("long")
        .alias("w"),
    )
    return contrib.groupBy("n").agg(F.sum("w").cast("long").alias("mi_weighted_e9")).select(
        F.col("n").alias("n_docs"),
        "mi_weighted_e9",
        F.floor(
            F.col("mi_weighted_e9").cast("double")
            / (F.col("n").cast("double") * 1_000_000_000)
            * 1_000_000
        )
        .cast("long")
        .alias("mi_nats_e6"),
    )


# ---------------------------------------------------------------------------
# Round 9: incremental JOIN-view maintenance (the bilinear delta rule)
# ---------------------------------------------------------------------------
@register(
    "d_incremental_join_maintenance",
    oracle="""
    WITH cust AS (
        SELECT c_custkey,
               c_mktsegment AS seg_old,
               CASE WHEN c_custkey % 89 = 0 THEN 'MOVED'
                    ELSE c_mktsegment END AS seg_new
        FROM customer
    ),
    ords AS (
        SELECT o_custkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey % 97 = 0 AS is_new
        FROM orders
    ),
    recomputed AS (
        SELECT c.seg_new AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o.cents) AS BIGINT) AS rev_recomputed
        FROM ords o JOIN cust c ON c.c_custkey = o.o_custkey
        GROUP BY c.seg_new
    ),
    v_base AS (
        SELECT c.seg_old AS segment, CAST(SUM(o.cents) AS BIGINT) AS rev_base
        FROM ords o JOIN cust c ON c.c_custkey = o.o_custkey
        WHERE NOT o.is_new
        GROUP BY c.seg_old
    ),
    moved AS (
        SELECT c.seg_old, c.seg_new, CAST(SUM(o.cents) AS BIGINT) AS rev
        FROM ords o JOIN cust c ON c.c_custkey = o.o_custkey
        WHERE NOT o.is_new AND c.seg_old <> c.seg_new
        GROUP BY c.seg_old, c.seg_new
    ),
    moved_out AS (SELECT seg_old AS segment, CAST(SUM(rev) AS BIGINT) AS rev
                  FROM moved GROUP BY seg_old),
    moved_in AS (SELECT seg_new AS segment, CAST(SUM(rev) AS BIGINT) AS rev
                 FROM moved GROUP BY seg_new),
    new_rev AS (
        SELECT c.seg_new AS segment, CAST(SUM(o.cents) AS BIGINT) AS rev
        FROM ords o JOIN cust c ON c.c_custkey = o.o_custkey
        WHERE o.is_new
        GROUP BY c.seg_new
    )
    SELECT r.segment, r.n_orders, r.rev_recomputed,
           CAST(COALESCE(b.rev_base, 0) - COALESCE(mo.rev, 0)
                + COALESCE(mi.rev, 0) + COALESCE(nr.rev, 0)
                AS BIGINT) AS rev_incremental,
           COALESCE(b.rev_base, 0) - COALESCE(mo.rev, 0)
               + COALESCE(mi.rev, 0) + COALESCE(nr.rev, 0)
               = r.rev_recomputed AS ivm_ok
    FROM recomputed r
    LEFT JOIN v_base b ON b.segment = r.segment
    LEFT JOIN moved_out mo ON mo.segment = r.segment
    LEFT JOIN moved_in mi ON mi.segment = r.segment
    LEFT JOIN new_rev nr ON nr.segment = r.segment
    ORDER BY r.segment
    """,
    survey_ids=("D1", "J1", "A1", "J4"),
)
def d_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the bilinear
    delta rule Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB (∪ ΔA⋈ΔB) that
    `d_incremental_agg_maintenance` (aggregate-only deltas) does not
    exercise. The materialized view is per-segment revenue over
    orders⋈customer; the simulated CDC batch both INSERTS facts
    (every 97th order is the new batch = ΔA⋈B) and UPDATES the
    dimension (every 89th customer moves to segment 'MOVED' = A⋈ΔB:
    its base revenue leaves the old segment and enters the new one).
    Both maintenance terms and the full recompute are computed, and
    every row carries an exact-integer ``ivm_ok`` verdict — the hash
    pins the delta algebra in both engines.

    At 100 TB: the recompute tier scans everything (here only to
    prove the verdict); the maintenance tier joins the DELTA-sized
    relations — ΔA⋈B broadcasts the dim as usual, A⋈ΔB is the fact
    table semi-joined to the changed-customer keys (delta-proportional
    output, keyed join, the standard dimension-update cost) — and the
    merge is |segments|-keyed left joins over group partials."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg_old"),
        F.when(F.col("c_custkey") % 89 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_new"),
    )
    ords = t(spark, sf_dir, "orders").select(
        F.col("o_custkey"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 97 == 0).alias("is_new"),
    )
    joined = ords.join(
        F.broadcast(cust), ords["o_custkey"] == cust["c_custkey"]
    )
    recomputed = joined.groupBy(F.col("seg_new").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("rev_recomputed"),
    )
    v_base = (
        joined.filter(~F.col("is_new"))
        .groupBy(F.col("seg_old").alias("segment"))
        .agg(F.sum("cents").cast("long").alias("rev_base"))
    )
    moved = (
        joined.filter(~F.col("is_new") & (F.col("seg_old") != F.col("seg_new")))
        .groupBy("seg_old", "seg_new")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    moved_out = moved.groupBy(F.col("seg_old").alias("segment")).agg(
        F.sum("rev").cast("long").alias("rev_out")
    )
    moved_in = moved.groupBy(F.col("seg_new").alias("segment")).agg(
        F.sum("rev").cast("long").alias("rev_in")
    )
    new_rev = (
        joined.filter(F.col("is_new"))
        .groupBy(F.col("seg_new").alias("segment"))
        .agg(F.sum("cents").cast("long").alias("rev_new"))
    )
    inc = (
        F.coalesce(F.col("rev_base"), F.lit(0))
        - F.coalesce(F.col("rev_out"), F.lit(0))
        + F.coalesce(F.col("rev_in"), F.lit(0))
        + F.coalesce(F.col("rev_new"), F.lit(0))
    )
    return (
        recomputed.join(v_base, "segment", "left")
        .join(moved_out, "segment", "left")
        .join(moved_in, "segment", "left")
        .join(new_rev, "segment", "left")
        .select(
            "segment",
            "n_orders",
            "rev_recomputed",
            inc.cast("long").alias("rev_incremental"),
            (inc == F.col("rev_recomputed")).alias("ivm_ok"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering audit
# ---------------------------------------------------------------------------

#: Z-order grid bits per dimension (256×256 cells) and bucket count.
Z_BITS = 8
Z_BUCKETS_SHIFT = 8  # top 8 of the 16 interleaved bits -> 256 buckets


def _morton_expr(px: str, py: str, div_op: str) -> str:
    """Bit interleave of two Z_BITS-wide non-negative ints, spelled as
    pure arithmetic (div/mod/multiply) so the SAME formula runs on
    Spark (`div`) and DuckDB (`//`) — no engine-specific bit operators."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({px}) {div_op} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({py}) {div_op} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    morton = _morton_expr("px", "py", "//")
    return f"""
    WITH keyed AS (
        SELECT o_custkey AS ck,
               CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS dd
        FROM orders
    ),
    bounds AS (
        SELECT MIN(ck) AS ck_min, MAX(ck) AS ck_max,
               MIN(dd) AS dd_min, MAX(dd) AS dd_max
        FROM keyed
    ),
    cells AS (
        SELECT ck, dd,
               ({1 << Z_BITS} * (ck - ck_min)) // (ck_max - ck_min + 1) AS px,
               ({1 << Z_BITS} * (dd - dd_min)) // (dd_max - dd_min + 1) AS py
        FROM keyed CROSS JOIN bounds
    ),
    coded AS (
        SELECT ck, dd, ({morton}) // {1 << Z_BUCKETS_SHIFT} AS bucket
        FROM cells
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(ck) - MIN(ck) AS BIGINT) AS cust_span,
           CAST(MAX(dd) - MIN(dd) AS BIGINT) AS date_span_days
    FROM coded
    GROUP BY bucket ORDER BY bucket
    """


@register(
    "d_zorder_clustering_keys",
    oracle=_zorder_oracle(),
    survey_ids=("D1", "F6", "A1", "X4"),
)
def d_zorder_clustering_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit over orders keyed by
    (custkey, orderdate): rank-normalize both keys to a 256×256 grid,
    interleave the bits, bucket by the top 8 interleaved bits (the
    file-assignment a Delta/Iceberg ``OPTIMIZE ZORDER BY`` performs),
    and report each bucket's span on BOTH dimensions — the
    data-skipping audit: z-order buckets are tight on custkey AND
    date simultaneously, where a 1-D sort is tight on one and spans
    everything on the other.

    Scale: the bounds are one broadcast scalar row; the Morton code is
    pure per-row arithmetic (div/mod — stays in whole-stage codegen,
    the identical formula text the oracle runs); the audit is one
    map-combined rollup over ≤256 buckets. This is the PLANNING
    operator — the actual rewrite is `etl.py` load with
    ``partition_by`` on the bucket column."""
    o = t(spark, sf_dir, "orders")
    keyed = o.select(
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("dd"),
    )
    bounds = keyed.agg(
        F.min("ck").alias("ck_min"),
        F.max("ck").alias("ck_max"),
        F.min("dd").alias("dd_min"),
        F.max("dd").alias("dd_max"),
    )
    from .stats import div

    def cell(c: str) -> Column:
        lo, hi = F.col(f"{c}_min"), F.col(f"{c}_max")
        return div((1 << Z_BITS) * (F.col(c) - lo), hi - lo + 1)

    cells = keyed.crossJoin(F.broadcast(bounds)).select(
        "ck", "dd", cell("ck").alias("px"), cell("dd").alias("py")
    )
    morton = F.expr(_morton_expr("px", "py", "div"))
    coded = cells.select(
        "ck", "dd", div(morton, F.lit(1 << Z_BUCKETS_SHIFT)).alias("bucket")
    )
    return (
        coded.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.max("ck") - F.min("ck")).cast("long").alias("cust_span"),
            (F.max("dd") - F.min("dd")).cast("long").alias("date_span_days"),
        )
        .orderBy("bucket")
    )


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
