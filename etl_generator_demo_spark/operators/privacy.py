"""The privacy family: the release-gating ladder over quasi-identifier
classes (k-anonymity → l-diversity → t-closeness), user-level
differential-privacy sensitivity and its ε-utility curve, and the
GDPR erasure-impact audit.

Two builders carry the shared relations, each with its DuckDB twin
beside it:

- :func:`qi_classes` / :data:`_DUCK_QI_CLASSES` — event counts per
  quasi-identifier class (event day, value decile) × sensitive value
  (``event_type``), the input of the l-diversity and t-closeness
  audits;
- :func:`user_day_contributions` / :data:`_DUCK_USER_DAY` — each
  user's rows and spend per day, the input of both DP audits.

Every ratio is an exact integer rational (no floats past the one
``floor(value·100)`` cents conversion), and every shuffle moves class
or contribution counts, never events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .relational import t


def qi_classes(events: DataFrame) -> DataFrame:
    """``(day, value_bucket, event_type, cnt)``: events counted per
    quasi-identifier class (event day, value decile) and sensitive
    value. One map-combined rollup."""
    return (
        events.select(
            F.to_date(F.col("ts").cast("timestamp")).alias("day"),
            F.floor(F.col("value") / 10).cast("long").alias("value_bucket"),
            "event_type",
        )
        .groupBy("day", "value_bucket", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


#: Oracle twin of :func:`qi_classes`: CTE ``per_sens``.
_DUCK_QI_CLASSES = """per_sens AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(FLOOR(value / 10) AS BIGINT) AS value_bucket,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY day, value_bucket, event_type
    )"""


def user_day_contributions(events: DataFrame) -> DataFrame:
    """``(day, user_id, n_rows, sum_cents)``: what each user contributes
    to each day's released count and spend sum (cents = floor of
    value·100). One map-combined rollup."""
    return (
        events.select(
            F.to_date(F.col("ts").cast("timestamp")).alias("day"),
            "user_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("day", "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


#: Oracle twin of :func:`user_day_contributions`: CTE ``per_user``.
_DUCK_USER_DAY = """per_user AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        GROUP BY day, user_id
    )"""


# ---------------------------------------------------------------------------
# k-anonymity generalization ladder
# ---------------------------------------------------------------------------

K_ANON = 5


@register(
    "x4_k_anonymity_ladder",
    oracle=f"""
    WITH l0 AS (
        SELECT lang, source,
               CAST(n_chars // 100 AS BIGINT) AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS class_size
        FROM documents
        GROUP BY lang, source, n_chars // 100
    ),
    l1 AS (
        SELECT lang, source, CAST(SUM(class_size) AS BIGINT) AS coarse_size
        FROM l0 GROUP BY lang, source
    )
    SELECT l0.lang, l0.source, len_bucket, class_size, coarse_size,
           CASE WHEN coarse_size >= {K_ANON} THEN 'generalize'
                ELSE 'suppress' END AS action
    FROM l0 JOIN l1 ON l0.lang = l1.lang AND l0.source = l1.source
    WHERE class_size < {K_ANON}
    ORDER BY l0.lang, l0.source, len_bucket
    """,
    survey_ids=("A1", "A4", "W3"),
)
def x4_k_anonymity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate with a generalization ladder: a
    document is re-identifiable when its quasi-identifier class
    (lang, source, length bucket) holds fewer than k=5 members. For
    each risky class the query decides the cheapest remedy — drop the
    length bucket ('generalize') if the coarser (lang, source) class
    clears k, else 'suppress'. The privacy sibling of the PII scrub
    (``x4_pii_scrub`` removes direct identifiers; this bounds indirect
    ones before a corpus release).

    Shape: one map-combined groupBy to the fine classes, then a window
    SUM over the coarser key instead of a second aggregate + self-join
    — class relations are tiny (|classes| << |docs|), so both shuffles
    move class counts, never documents. Scales to any corpus whose
    quasi-identifier cardinality fits a shuffle — i.e. all of them."""
    l0 = (
        t(spark, sf_dir, "documents")
        .groupBy(
            "lang",
            "source",
            F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
    )
    coarse = Window.partitionBy("lang", "source")
    return (
        l0.withColumn(
            "coarse_size", F.sum("class_size").over(coarse).cast("long")
        )
        .filter(F.col("class_size") < K_ANON)
        .select(
            "lang",
            "source",
            "len_bucket",
            "class_size",
            "coarse_size",
            F.when(F.col("coarse_size") >= K_ANON, "generalize")
            .otherwise("suppress")
            .alias("action"),
        )
        .orderBy("lang", "source", "len_bucket")
    )


# ---------------------------------------------------------------------------
# l-diversity audit (the sensitive-attribute side of the ladder)
# ---------------------------------------------------------------------------

#: Minimum distinct sensitive values a released class must carry.
L_DIV = 3
#: Disclosure-risk ceiling: the most common sensitive value may not
#: exceed this share of the class (e6).
L_DIV_PMAX_E6 = 800_000


@register(
    "x4_l_diversity_audit",
    oracle=f"""
    WITH {_DUCK_QI_CLASSES},
    per_class AS (
        SELECT day, value_bucket,
               CAST(SUM(cnt) AS BIGINT) AS class_size,
               CAST(COUNT(*) AS BIGINT) AS n_sensitive,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM per_sens GROUP BY day, value_bucket
    )
    SELECT day, value_bucket, class_size, n_sensitive,
           CAST(max_cnt * 1000000 // class_size AS BIGINT) AS p_max_e6,
           CASE WHEN n_sensitive = 1 THEN 'homogeneous'
                WHEN n_sensitive < {L_DIV} THEN 'low_l'
                ELSE 'skewed' END AS risk
    FROM per_class
    WHERE n_sensitive < {L_DIV}
       OR max_cnt * 1000000 // class_size > {L_DIV_PMAX_E6}
    ORDER BY day, value_bucket
    """,
    survey_ids=("A1", "A4", "F7", "X4"),
)
def x4_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release gate — the sensitive-attribute side of the
    privacy pair (`x4_k_anonymity_ladder` bounds CLASS SIZE; a class
    can be k-anonymous yet still leak when everyone in it shares the
    sensitive value — Machanavajjhala et al. 2007). Quasi-identifier
    classes are (event day, value decile); the sensitive attribute is
    event_type. Flag classes that are homogeneous (l = 1), below
    l = 3 distinct values, or dominated by one value above an 80%
    disclosure-risk ceiling (p_max, the attack success rate).
    Exactness: p_max is an integer rational of class counts. Shape:
    the class rollup (:func:`qi_classes`) then a class-keyed reduce —
    both shuffles move class counts, never events."""
    per_class = (
        qi_classes(t(spark, sf_dir, "events"))
        .groupBy("day", "value_bucket")
        .agg(
            F.sum("cnt").cast("long").alias("class_size"),
            F.count(F.lit(1)).cast("long").alias("n_sensitive"),
            F.max("cnt").cast("long").alias("max_cnt"),
        )
    )
    return (
        per_class.select(
            "day",
            "value_bucket",
            "class_size",
            "n_sensitive",
            F.expr("max_cnt * 1000000 div class_size")
            .cast("long")
            .alias("p_max_e6"),
            F.when(F.col("n_sensitive") == 1, "homogeneous")
            .when(F.col("n_sensitive") < L_DIV, "low_l")
            .otherwise("skewed")
            .alias("risk"),
        )
        .filter(
            (F.col("n_sensitive") < L_DIV)
            | (F.col("p_max_e6") > L_DIV_PMAX_E6)
        )
        .orderBy("day", "value_bucket")
    )


# ---------------------------------------------------------------------------
# t-closeness audit (the distribution-distance rung)
# ---------------------------------------------------------------------------

#: Release gate: classes whose sensitive distribution sits further
#: than this total-variation distance from the global one are flagged.
T_CLOSE_E6 = 200_000


@register(
    "x4_t_closeness_audit",
    oracle=f"""
    WITH {_DUCK_QI_CLASSES},
    cls AS (
        SELECT day, value_bucket, CAST(SUM(cnt) AS BIGINT) AS c
        FROM per_sens GROUP BY day, value_bucket
    ),
    gdist AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS g FROM events
        GROUP BY event_type
    ),
    gt AS (SELECT CAST(COUNT(*) AS BIGINT) AS gtot FROM events),
    present AS (
        SELECT p.day, p.value_bucket,
               CAST(SUM(ABS(p.cnt * gt.gtot - gl.g * cls.c)) AS BIGINT)
                   AS present_term,
               CAST(SUM(gl.g) AS BIGINT) AS present_g
        FROM per_sens p
        JOIN cls ON cls.day = p.day AND cls.value_bucket = p.value_bucket
        JOIN gdist gl ON gl.event_type = p.event_type
        CROSS JOIN gt
        GROUP BY p.day, p.value_bucket
    )
    SELECT cls.day, cls.value_bucket, cls.c AS class_size,
           CAST((pr.present_term + cls.c * (gt.gtot - pr.present_g))
                * 1000000 // (2 * cls.c * gt.gtot) AS BIGINT) AS tv_e6,
           CASE WHEN (pr.present_term + cls.c * (gt.gtot - pr.present_g))
                     * 1000000 // (2 * cls.c * gt.gtot) > {T_CLOSE_E6}
                THEN 'breach' ELSE 'ok' END AS risk
    FROM cls
    JOIN present pr ON pr.day = cls.day AND pr.value_bucket = cls.value_bucket
    CROSS JOIN gt
    ORDER BY cls.day, cls.value_bucket
    """,
    survey_ids=("X4", "A1", "J1", "F6"),
)
def x4_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the privacy ladder after
    k-anonymity (class size) and l-diversity (distinct sensitive
    values): a released equivalence class (day × value decile) whose
    SENSITIVE-attribute distribution (event_type) deviates from the
    global distribution by more than t in total-variation distance
    leaks attribute inference even when k and l pass. Categorical
    sensitive values ⇒ the EMD of Li et al. 2007 reduces to TV:
    t = ½ Σ_i |p_i − q_i|.

    Exact rational fixed point — no floats anywhere:
    |cnt_i/C − g_i/G| = |cnt_i·G − g_i·C| / (C·G); values absent from
    the class contribute g_i·C, folded in as C·(G − Σ_present g_i)
    without enumerating the absent lattice. Overflow: cnt·G ≤ 1e10 at
    sf0.1, summed ≤ ~5e10, ×1e6 ≪ 2^63.

    Plan: the class rollup (:func:`qi_classes`) and its class totals,
    the global sensitive distribution and total from the same event
    scan (|types|-bounded, broadcast), one class-keyed join — linear,
    class-bounded output."""
    ev = t(spark, sf_dir, "events")
    per_sens = qi_classes(ev)
    cls = per_sens.groupBy("day", "value_bucket").agg(
        F.sum("cnt").cast("long").alias("c")
    )
    glob = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("g"))
    gt = ev.agg(F.count(F.lit(1)).cast("long").alias("gtot"))
    present = (
        per_sens.join(cls, ["day", "value_bucket"])
        .join(F.broadcast(glob), "event_type")
        .crossJoin(F.broadcast(gt))
        .groupBy("day", "value_bucket")
        .agg(
            F.sum(F.abs(F.col("cnt") * F.col("gtot") - F.col("g") * F.col("c")))
            .cast("long")
            .alias("present_term"),
            F.sum("g").cast("long").alias("present_g"),
        )
    )
    tv = F.expr(
        "(present_term + c * (gtot - present_g)) * 1000000"
        " div (2 * c * gtot)"
    ).cast("long")
    return (
        cls.join(present, ["day", "value_bucket"])
        .crossJoin(F.broadcast(gt))
        .select(
            "day",
            "value_bucket",
            F.col("c").alias("class_size"),
            tv.alias("tv_e6"),
            F.when(tv > T_CLOSE_E6, "breach").otherwise("ok").alias("risk"),
        )
        .orderBy("day", "value_bucket")
    )


# ---------------------------------------------------------------------------
# user-level DP sensitivity audit and the ε-utility curve
# ---------------------------------------------------------------------------

@register(
    "x4_dp_sensitivity_audit",
    oracle=f"""
    WITH {_DUCK_USER_DAY}
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(MAX(n_rows) AS BIGINT) AS count_sensitivity,
           CAST(MAX(ABS(sum_cents)) AS BIGINT) AS sum_sensitivity_cents,
           CAST(MAX(n_rows) * 1000000 // SUM(n_rows) AS BIGINT)
               AS max_user_share_e6
    FROM per_user
    GROUP BY day
    ORDER BY day
    """,
    survey_ids=("X4", "A1", "F2"),
)
def x4_dp_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level differential-privacy sensitivity audit: for each
    day's released count and spend-sum, the L1 sensitivity Δf under
    user-level DP — the max one user contributes (rows for the count;
    |cents| for the sum) — the number that CALIBRATES the noise scale
    (Laplace b = Δf/ε) before any mechanism runs, and the reason raw
    aggregates need contribution CAPPING first when one user dominates
    (max_user_share flags those days). Completes the privacy ladder:
    k-anonymity → l-diversity → t-closeness → sensitivity. Exact
    integer throughout (cents fixed point; no randomness — the audit
    is deterministic even though the mechanism is not). Plan: the
    (day, user) rollup (:func:`user_day_contributions`) + one day
    rollup — linear, keyed."""
    return (
        user_day_contributions(t(spark, sf_dir, "events"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.max("n_rows").cast("long").alias("count_sensitivity"),
            F.max(F.abs("sum_cents")).cast("long").alias(
                "sum_sensitivity_cents"
            ),
            F.expr("MAX(n_rows) * 1000000 div SUM(n_rows)")
            .cast("long")
            .alias("max_user_share_e6"),
        )
        .orderBy("day")
    )


#: Privacy budgets swept, e3 fixed point (0.1, 1, 10).
DP_EPSILON_SWEEP_E3 = (100, 1_000, 10_000)
#: Utility bar: a day's released count is "usable" when the expected
#: absolute Laplace noise is under 5% of the true count.
DP_UTILITY_BAR_E6 = 50_000


def _dp_sweep_oracle() -> str:
    eps = ", ".join(str(e) for e in DP_EPSILON_SWEEP_E3)
    return f"""
    WITH {_DUCK_USER_DAY},
    days AS (
        SELECT day,
               CAST(SUM(n_rows) AS BIGINT) AS true_count,
               CAST(MAX(n_rows) AS BIGINT) AS sens
        FROM per_user GROUP BY day
    ),
    e AS (SELECT UNNEST([{eps}]::BIGINT[]) AS epsilon_e3)
    SELECT e.epsilon_e3,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(d.sens * 1000000000 // e.epsilon_e3) // COUNT(*)
                AS BIGINT) AS mean_noise_scale_e6,
           CAST(MAX(d.sens * 1000000000 // e.epsilon_e3 * 1000000
                    // (d.true_count * 1000000)) AS BIGINT)
               AS worst_rel_err_e6,
           CAST(SUM(CASE WHEN d.sens * 1000000000 // e.epsilon_e3
                              * 1000000 // (d.true_count * 1000000)
                         < {DP_UTILITY_BAR_E6} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_usable_days
    FROM days d CROSS JOIN e
    GROUP BY e.epsilon_e3
    ORDER BY e.epsilon_e3
    """


@register(
    "x4_dp_epsilon_utility_sweep",
    oracle=_dp_sweep_oracle(),
    survey_ids=("X4", "A1"),
)
def x4_dp_epsilon_utility_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-budget knob curve — rung 5 of the DP ladder: the
    sensitivity audit measured Δf per day; this prices ε. For each
    budget (0.1 / 1 / 10), the Laplace scale b = Δf/ε IS the expected
    absolute noise on the released daily count, so per ε the sweep
    reports the mean noise scale, the worst day's expected RELATIVE
    error, and how many days clear the 5% utility bar — the table a
    data owner reads to pick the budget BEFORE any noisy release
    (deterministic: the audit prices the mechanism's parameter, it
    never draws noise).

    Exact integer fixed point throughout: ε in e3, b in e6
    (Δf·1e9 div ε_e3), relative error in e6 via one identical
    truncating division chain in both engines. Plan: the sensitivity
    lattice (|days| rows, from :func:`user_day_contributions`) × 3
    broadcast budgets — ~free at any corpus size."""
    days = (
        user_day_contributions(t(spark, sf_dir, "events"))
        .groupBy("day")
        .agg(
            F.sum("n_rows").cast("long").alias("true_count"),
            F.max("n_rows").cast("long").alias("sens"),
        )
    )
    eps = F.array(*[F.lit(e).cast("long") for e in DP_EPSILON_SWEEP_E3])
    x = days.select(
        "day", "true_count", "sens", F.explode(eps).alias("epsilon_e3")
    ).withColumn(
        "rel_err_e6",
        F.expr(
            "sens * 1000000000 div epsilon_e3 * 1000000"
            " div (true_count * 1000000)"
        ).cast("long"),
    )
    return (
        x.groupBy("epsilon_e3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.expr(
                "CAST(SUM(sens * 1000000000 div epsilon_e3) div COUNT(1) AS LONG)"
            ).alias("mean_noise_scale_e6"),
            F.max("rel_err_e6").cast("long").alias("worst_rel_err_e6"),
            F.sum(
                F.when(F.col("rel_err_e6") < DP_UTILITY_BAR_E6, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_usable_days"),
        )
        .orderBy("epsilon_e3")
    )


# ---------------------------------------------------------------------------
# GDPR erasure-impact audit — deletion cascade planning over the FK graph
# ---------------------------------------------------------------------------
@register(
    "d_gdpr_erasure_audit",
    oracle="""
    WITH forget AS (
        SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0
    ),
    rows_per_table AS (
        SELECT 'customer' AS table_name,
               COUNT(*) AS n_rows,
               SUM(CASE WHEN c_custkey IN (SELECT k FROM forget)
                        THEN 1 ELSE 0 END) AS n_to_erase
        FROM customer
        UNION ALL
        SELECT 'events', COUNT(*),
               SUM(CASE WHEN user_id IN (SELECT k FROM forget)
                        THEN 1 ELSE 0 END)
        FROM events
        UNION ALL
        SELECT 'lineitem', COUNT(*),
               SUM(CASE WHEN l_orderkey IN (
                       SELECT o_orderkey FROM orders
                       WHERE o_custkey IN (SELECT k FROM forget))
                        THEN 1 ELSE 0 END)
        FROM lineitem
        UNION ALL
        SELECT 'orders', COUNT(*),
               SUM(CASE WHEN o_custkey IN (SELECT k FROM forget)
                        THEN 1 ELSE 0 END)
        FROM orders
    )
    SELECT table_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_to_erase AS BIGINT) AS n_to_erase,
           CAST(FLOOR(n_to_erase * 10000.0 / n_rows) AS BIGINT) AS pct_e4
    FROM rows_per_table
    ORDER BY table_name
    """,
    survey_ids=("J5", "A2", "U2"),
)
def d_gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: for a deterministic forget
    set (every 97th customer key, standing in for a deletion-request
    batch), count the rows each table would lose — including the
    TWO-HOP cascade customer → orders → lineitem that the FK graph
    implies. The counting sibling of the DML layer's
    ``merge_parquet``/staged-overwrite erasure executors
    (`sources/mutations.py`): plan first, rewrite once. Completes the
    governance trio: `x4_pii_scrub` (direct identifiers),
    `x4_k_anonymity_ladder` (indirect), erasure (deletion).

    Shape: the forget-key relation and its one-hop order-key expansion
    both aggregate BEFORE broadcasting (keys only, never fact rows);
    every per-table count is one scan with a broadcast hit marker —
    four scans, zero fact-fact shuffles, output is 4 rows no matter
    the corpus size."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")
    forget = cust.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("k")
    )
    forget_orders = (
        orders.join(F.broadcast(forget), orders["o_custkey"] == F.col("k"))
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )

    def impact(name: str, base: DataFrame, key: str, keys: DataFrame) -> DataFrame:
        marked = base.join(
            F.broadcast(keys.withColumn("_hit", F.lit(1))),
            base[key] == keys["k"],
            "left",
        )
        return marked.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_to_erase"),
        )

    out = impact("customer", cust, "c_custkey", forget)
    for part in (
        impact("events", ev, "user_id", forget),
        impact("lineitem", li, "l_orderkey", forget_orders),
        impact("orders", orders, "o_custkey", forget),
    ):
        out = out.unionByName(part)
    return out.select(
        "table_name",
        "n_rows",
        "n_to_erase",
        F.floor(F.col("n_to_erase") * 10000.0 / F.col("n_rows"))
        .cast("long")
        .alias("pct_e4"),
    ).orderBy("table_name")
