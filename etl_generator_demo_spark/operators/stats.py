"""Statistics and sketches: regression, correlation, rank agreement,
contingency effect sizes, entropies, robust estimators, resampling,
mergeable sketches and retrieval evaluation.

Every regression and correlation reads one moments kernel
(:func:`moments`: exact integer sums of each column and of each column
pair in one aggregate) and every closed form divides through one
zero-denominator rule (:func:`denom`): a zero denominator gives NULL,
as in the DuckDB oracle and in PostgreSQL's ``regr_slope``/``corr``,
never an ANSI ``DIVIDE_BY_ZERO``. Where an oracle fixes a rounding
order (``x·1e6/d`` against ``x/d·1e6``, or integer ``div``), the caller
keeps it; the kernel fixes only the sums and the zero rule.

Exactness: ln appears only as an integer floor of a scaled log;
products that can outgrow int64 are summed as DECIMAL(38,0); the only
float steps are final ratios of exact integers, spelled identically in
both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..session import checkpoint_with
from .analytics_ext import global_row_number, global_running
from .relational import t
from .retrieval import (
    BM25_QUERY_TERMS,
    _duck_bm25_term_e6,
    _duck_ql_term_e6,
    bm25_collection,
    bm25_term_scores,
    ql_term_e6,
    x4_bm25_topk,
)
from .skew import BLOOM_HASHES
from .tokens import _duck_token_counts, _duck_tokens, doc_tokens, n_tokens, token_counts


# ---------------------------------------------------------------------------
# Kernels
# ---------------------------------------------------------------------------

def denom(c: Column) -> Column:
    """A closed form's denominator: NULL where it is zero, so the ratio
    is NULL rather than an error (one row, zero variance, an empty
    sample)."""
    return F.nullif(c, F.lit(0))


def div(num: Column, den: Column) -> Column:
    """Integer division truncating toward zero (Spark ``div`` = DuckDB
    ``//`` on integers), NULL on a zero divisor."""
    return F.call_function("div", num, denom(den))


def moments(frame: DataFrame, cols: list[str], dtype: str) -> DataFrame:
    """One-row aggregate of exact sums in ``dtype`` (``long``, or
    ``decimal(38,0)`` where products outgrow int64): ``n``, ``s_<c>``
    for each column and ``s_<c>_<d>`` for each pair with ``c`` listed
    no later than ``d`` (squares included). One map-combined pass, for
    any number of columns."""
    v = {c: F.col(c).cast(dtype) for c in cols}
    return frame.agg(
        F.count(F.lit(1)).cast(dtype).alias("n"),
        *[F.sum(v[c]).cast(dtype).alias(f"s_{c}") for c in cols],
        *[
            F.sum(v[a] * v[b]).cast(dtype).alias(f"s_{a}_{b}")
            for i, a in enumerate(cols)
            for b in cols[i:]
        ],
    )


def comoment(x: str, y: str) -> Column:
    """``n·Σxy − Σx·Σy`` over a :func:`moments` row: n² times the
    covariance of x and y (the variance when ``x == y``)."""
    return F.col("n") * F.col(f"s_{x}_{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")


def spearman(frame: DataFrame, key: str, a: str, b: str) -> DataFrame:
    """Spearman's ρ between columns ``a`` and ``b`` of ``frame`` (one
    row per ``key``): one row ``(n, sum_d2, rho_e6)``. Ranks are
    ROW_NUMBER permutations under (value, key) total orders, both run
    through the distributed ``global_row_number`` (never a
    single-partition window) and joined on the key; ρ = 1 − 6·Σd² /
    (n(n²−1)) is evaluated from exact BIGINT sums in the oracle's
    operation order."""
    ra, _ = global_row_number(
        frame.select(key, a), [F.col(a).asc(), F.col(key).asc()], rn_col="ra"
    )
    rb, _ = global_row_number(
        frame.select(key, b), [F.col(b).asc(), F.col(key).asc()], rn_col="rb"
    )
    d = ra.select(key, "ra").join(rb.select(key, "rb"), key)
    dd = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    n = F.col("n")
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dd).cast("long").alias("sum_d2"),
    ).select(
        "n",
        "sum_d2",
        F.floor((1 - 6.0 * F.col("sum_d2") / denom(n * (n * n - 1.0))) * 1_000_000)
        .cast("long")
        .alias("rho_e6"),
    )


def rank_frequency(docs: DataFrame, top_n: int) -> DataFrame:
    """``(f, rank)`` for the ``top_n`` most frequent whitespace tokens
    of ``docs`` (ties broken by token): the head of the rank–frequency
    curve the Zipf fits regress on. The head is cut first
    (``orderBy().limit()``, a per-partition top-N), so the ranking
    window sees at most ``top_n`` rows, never the vocabulary."""
    freq = (
        token_counts(docs)
        .withColumnRenamed("n", "f")
        .orderBy(F.desc("f"), "tk")
        .limit(top_n)
    )
    return freq.select(
        "f",
        F.row_number().over(Window.orderBy(F.desc("f"), "tk")).cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Regression and correlation
# ---------------------------------------------------------------------------

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
    monitor next to Mann-Kendall/CUSUM, as the closed-form
    least-squares line. Both engines ship ``regr_slope``, but its float
    accumulation depends on summation order (hash-unstable); instead
    the sufficient statistics are exact :func:`moments` carried as
    DECIMAL(38,0): x ≈ 2.5e3 (day index from a fixed 1995 origin),
    y = daily cents, so n·Σxy overflows int64 at sf≥1 but sits far
    inside decimal38. The only floats are the final
    exact-decimal→double divisions; one day gives a NULL slope.
    Slope is shift-invariant, so the fixed origin changes nothing."""
    day = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("x")
        )
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("y"))
    )
    n = F.col("n").cast("double")
    return moments(day, ["x", "y"], "decimal(38,0)").select(
        F.col("n").cast("long").alias("n_days"),
        F.floor(
            comoment("x", "y").cast("double") * 1_000_000.0
            / denom(comoment("x", "x").cast("double"))
        )
        .cast("long")
        .alias("slope_cents_per_day_e6"),
        F.floor(F.col("s_y").cast("double") / denom(n)).cast("long").alias("mean_daily_cents"),
        F.floor(F.col("s_x").cast("double") / denom(n)).cast("long").alias("mean_day_index"),
    )


def _corr_pair_sql(x: str, y: str, label: str) -> str:
    """One pair of the oracle's correlation matrix from the shared
    integer-moment relation (HUGEINT products, IEEE-identical final
    expression)."""
    return f"""
    SELECT '{label}' AS pair,
           CAST(FLOOR(1000000.0
               * (n * s_{x}{y} - s_{x} * s_{y})
               / (sqrt(CAST(n * s_{x}{x} - s_{x} * s_{x} AS DOUBLE))
                  * sqrt(CAST(n * s_{y}{y} - s_{y} * s_{y} AS DOUBLE))))
             AS BIGINT) AS corr_e6
    FROM m
    """


@register(
    "a_corr_matrix_lineitem",
    oracle=f"""
    WITH m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s_q,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                    AS HUGEINT) AS s_p,
               CAST(SUM(CAST(FLOOR(l_discount * 100) AS BIGINT))
                    AS HUGEINT) AS s_d,
               CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s_qq,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS HUGEINT)
                        * CAST(FLOOR(l_extendedprice * 100) AS HUGEINT))
                    AS HUGEINT) AS s_pp,
               CAST(SUM(CAST(FLOOR(l_discount * 100) AS BIGINT)
                        * CAST(FLOOR(l_discount * 100) AS BIGINT))
                    AS HUGEINT) AS s_dd,
               CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                    AS HUGEINT) AS s_qp,
               CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(FLOOR(l_discount * 100) AS BIGINT))
                    AS HUGEINT) AS s_qd,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS HUGEINT)
                        * CAST(FLOOR(l_discount * 100) AS HUGEINT))
                    AS HUGEINT) AS s_pd
        FROM lineitem
    )
    {_corr_pair_sql('q', 'p', 'quantity_price')}
    UNION ALL {_corr_pair_sql('q', 'd', 'quantity_discount')}
    UNION ALL {_corr_pair_sql('p', 'd', 'price_discount')}
    ORDER BY pair
    """,
    survey_ids=("A2", "F6", "U2"),
)
def a_corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of (quantity, price cents,
    discount cents) from ONE pass of exact :func:`moments` carried as
    DECIMAL(38,0) (HUGEINT in the oracle), so the expensive part never
    runs k× for k pairs. The e6 ratio is the only float step: an
    IEEE-identical expression tree (two correctly-rounded sqrts, one
    multiply, one divide) on exact integer operands in both engines,
    so the doubles — and their floors — agree bitwise; a constant
    column gives NULL. Overflow audit: at sf0.1 (~6·10⁵ rows ×
    (10⁷)² price-cents²) the products stay under 10³² ≪ the 38-digit
    decimal bound.

    Scale: one scan and one map-combined global aggregate (partial
    moments combine associatively), then the 1-row result unpacked into
    the three pairs; 100 TB changes only the scan time."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.floor(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    sd = lambda c: F.sqrt(comoment(c, c).cast("double"))  # noqa: E731
    pairs = (("q", "p", "quantity_price"), ("q", "d", "quantity_discount"),
             ("p", "d", "price_discount"))
    # the three pairs are rows of the one moments row: a union of three
    # projections would let column pruning split the aggregate in three
    return (
        moments(li, ["q", "p", "d"], "decimal(38,0)")
        .select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(label).alias("pair"),
                            F.floor(1000000.0 * comoment(x, y) / denom(sd(x) * sd(y)))
                            .cast("long")
                            .alias("corr_e6"),
                        )
                        for x, y, label in pairs
                    ]
                )
            )
        )
        .orderBy("pair")
    )


ZIPF_TOP_TERMS = 1000


@register(
    "x4_zipf_slope",
    oracle=f"""
    WITH freq AS (SELECT tk, n AS f FROM ({_duck_token_counts()})),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tk) AS rnk FROM freq
    ),
    pts AS (
        SELECT CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * 1000) AS BIGINT) AS x,
               CAST(FLOOR(LN(CAST(f AS DOUBLE)) * 1000) AS BIGINT)   AS y
        FROM ranked WHERE rnk <= {ZIPF_TOP_TERMS}
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT)    AS n,
               CAST(SUM(x) AS BIGINT)      AS sx,
               CAST(SUM(y) AS BIGINT)      AS sy,
               CAST(SUM(x * y) AS BIGINT)  AS sxy,
               CAST(SUM(x * x) AS BIGINT)  AS sxx
        FROM pts
    )
    SELECT n AS n_terms,
           CAST(FLOOR(
               CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
               * 1000000) AS BIGINT) AS slope_e6
    FROM s
    """,
    survey_ids=("X4",),
)
def x4_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope
    of ln(freq) on ln(rank) for the top-1000 terms. Natural text sits
    near −1; a corpus drifting toward 0 (too flat) or below −1.5 (too
    peaked) flags template spam or vocabulary collapse — a cheap
    corpus-health gate next to the quality and repetition scores.

    Determinism: each (x, y) point is floor-scaled to integer
    milli-units BEFORE the regression sums, so the moments are exact
    BIGINTs (magnitudes ≤ ~2·10¹⁴ — exact in double too); the slope is
    then ONE identically-shaped float division. The head comes from
    :func:`rank_frequency`, so the ranking window never sees the full
    vocabulary."""
    pts = rank_frequency(t(spark, sf_dir, "documents"), ZIPF_TOP_TERMS).select(
        F.floor(F.log(F.col("rank").cast("double")) * 1000).cast("long").alias("x"),
        F.floor(F.log(F.col("f").cast("double")) * 1000).cast("long").alias("y"),
    )
    return moments(pts, ["x", "y"], "long").select(
        F.col("n").alias("n_terms"),
        F.floor(
            comoment("x", "y").cast("double")
            / denom(comoment("x", "x").cast("double"))
            * 1000000
        )
        .cast("long")
        .alias("slope_e6"),
    )


#: Terms fitted (the head of the rank-frequency curve; Zipf holds on
#: the head, the tail bends — standard practice fits top-N).
ZIPF_TOP_N = 100


def _int_slope() -> Column:
    """OLS slope in e6 by integer division over an (x, y)
    :func:`moments` row, the rounding order the Zipf-alpha and Heaps
    oracles fix: (n·Σxy − Σx·Σy) div ((n·Σx² − (Σx)²) div 1e6)."""
    return div(comoment("x", "y"), div(comoment("x", "x"), F.lit(1_000_000)))


@register(
    "x4_zipf_alpha_fit",
    oracle=f"""
    WITH freq AS (
        SELECT tk, n AS cnt FROM ({_duck_token_counts()})
        ORDER BY cnt DESC, tk
        LIMIT {ZIPF_TOP_N}
    ),
    ranked AS (
        SELECT cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tk) AS BIGINT) AS rk
        FROM freq
    ),
    xy AS (
        SELECT CAST(FLOOR(LN(rk) * 1000000) AS BIGINT) AS x,
               CAST(FLOOR(LN(cnt) * 1000000) AS BIGINT) AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM xy
    )
    SELECT n AS n_terms,
           CAST(-((n * sxy - sx * sy)
                  // ((n * sxx - sx * sx) // 1000000)) AS BIGINT) AS alpha_e6,
           CAST((sy // n)
                - (((n * sxy - sx * sy)
                    // ((n * sxx - sx * sx) // 1000000)) * (sx // n))
                  // 1000000 AS BIGINT) AS intercept_e6
    FROM s
    """,
    survey_ids=("X4", "A1", "O4", "F6"),
)
def x4_zipf_alpha_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus: OLS fit of ln(freq) on
    ln(rank) over the top-{N} terms — the first sanity statistic of
    any scraped corpus (natural text gives alpha ≈ 1; alpha far off
    flags boilerplate or synthetic data). Both coordinates floor to e6
    integers FIRST, so the regression moments are exact int64 sums and
    the slope/intercept are integer divisions truncating identically
    in both engines (negative slope: both truncate toward zero).
    Overflow audit: x ≤ ln(100)·1e6, y ≤ ln(corpus)·1e6 ≈ 1.5e7 ⇒
    n·Σxy ≤ ~7e17 < 2^63.

    Plan: one token scan → map-combined term count → top-N
    (TakeOrderedAndProject) → a 100-row moment aggregate. The fit
    relation is N-bounded regardless of corpus size."""
    xy = rank_frequency(t(spark, sf_dir, "documents"), ZIPF_TOP_N).select(
        F.floor(F.log("rank") * 1_000_000).cast("long").alias("x"),
        F.floor(F.log("f") * 1_000_000).cast("long").alias("y"),
    )
    n = F.col("n")
    return moments(xy, ["x", "y"], "long").select(
        n.alias("n_terms"),
        (-_int_slope()).cast("long").alias("alpha_e6"),
        (div(F.col("s_y"), n) - div(_int_slope() * div(F.col("s_x"), n), F.lit(1_000_000)))
        .cast("long")
        .alias("intercept_e6"),
    )


@register(
    "x4_heaps_law_fit",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               {_duck_tokens()}
        FROM documents
    ),
    nt AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok
        FROM tok GROUP BY doc_id
    ),
    firsts AS (SELECT tk, MIN(doc_id) AS fd FROM tok GROUP BY tk),
    newv AS (SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS nv
             FROM firsts GROUP BY fd),
    lattice AS (
        SELECT nt.doc_id, nt.ntok, COALESCE(newv.nv, 0) AS nv
        FROM nt LEFT JOIN newv USING (doc_id)
    ),
    cum AS (
        SELECT doc_id,
               SUM(ntok) OVER (ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cumn,
               SUM(nv) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cumv
        FROM lattice
    ),
    xy AS (
        SELECT CAST(FLOOR(LN(cumn) * 1000) AS BIGINT) AS x,
               CAST(FLOOR(LN(cumv) * 1000) AS BIGINT) AS y
        FROM cum
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM xy
    )
    SELECT n AS n_checkpoints,
           CAST((n * sxy - sx * sy)
                // ((n * sxx - sx * sx) // 1000000) AS BIGINT) AS beta_e6,
           CAST(((sy // n) * 1000)
                - (((n * sxy - sx * sy)
                    // ((n * sxx - sx * sx) // 1000000)) * ((sx // n) * 1000))
                  // 1000000 AS BIGINT) AS lnk_e6
    FROM s
    """,
    survey_ids=("X4", "A1", "W3", "F6"),
)
def x4_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) ≈ K·n^β: cumulative vocabulary size vs
    cumulative token count at every document boundary (doc_id order),
    OLS on the ln-ln curve — the second corpus-law sanity statistic
    next to `x4_zipf_alpha_fit` (natural text: β ≈ 0.5–0.8; β near 1
    means the vocabulary never saturates — an OCR/noise flag; β near 0
    flags template text). One document gives a NULL fit.

    The cumulative curves are distributed prefix scans
    (`global_running` — range-partitioned two-phase, no
    single-partition window) over the per-doc lattice: cumn = running
    Σ tokens, cumv = running Σ first-occurrence counts (a term's first
    occurrence attributed to its MIN doc_id — order-free). Coordinates
    floor to e3 (5000 checkpoints at sf0.1: e3 keeps n·Σx² ≈ 5.5e15
    inside int64 where e6 would overflow); the fit is then exact
    integer math truncating identically in both engines."""
    docs = t(spark, sf_dir, "documents")
    tok = doc_tokens(docs, "doc_id")
    nt = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("ntok")
    )
    newv = (
        tok.groupBy("tk")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )
    lattice = nt.join(newv, "doc_id", "left").select(
        "doc_id", "ntok", F.coalesce("nv", F.lit(0)).cast("long").alias("nv")
    )
    cum = global_running(
        lattice, [F.col("doc_id").asc()], "ntok", kind="sum", out_col="cumn"
    )
    cum = global_running(
        cum, [F.col("doc_id").asc()], "nv", kind="sum", out_col="cumv"
    )
    xy = cum.select(
        F.floor(F.log("cumn") * 1_000).cast("long").alias("x"),
        F.floor(F.log("cumv") * 1_000).cast("long").alias("y"),
    )
    n = F.col("n")
    return moments(xy, ["x", "y"], "long").select(
        n.alias("n_checkpoints"),
        _int_slope().cast("long").alias("beta_e6"),
        (
            div(F.col("s_y"), n) * 1000
            - div(_int_slope() * (div(F.col("s_x"), n) * 1000), F.lit(1_000_000))
        )
        .cast("long")
        .alias("lnk_e6"),
    )


# ---------------------------------------------------------------------------
# Rank agreement
# ---------------------------------------------------------------------------

def _ranker_agreement_oracle() -> str:
    terms = ", ".join(f"'{x}'" for x in BM25_QUERY_TERMS)
    uterms = " UNION ALL ".join(
        f"SELECT '{x}' AS term" for x in BM25_QUERY_TERMS
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_len
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE term IN ({terms}) GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    bm25 AS (
        SELECT tf.doc_id,
               CAST(SUM({_duck_bm25_term_e6("tf.tf", "dfreq.df", "dl.dl", "stats.n_docs", "stats.total_len")})
                    AS BIGINT) AS bm25_e6
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    q AS ({uterms}),
    ctf AS (
        SELECT q.term, CAST(COUNT(tok.term) AS BIGINT) AS ctf
        FROM q LEFT JOIN tok ON tok.term = q.term GROUP BY q.term
    ),
    ql AS (
        SELECT d.doc_id,
               CAST(SUM({_duck_ql_term_e6("t.tf", "c.ctf", "s.total_len", "d.dl")})
                    AS BIGINT) AS ql_e6
        FROM dl d
        CROSS JOIN ctf c
        CROSS JOIN stats s
        LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.term = c.term
        WHERE c.ctf > 0
        GROUP BY d.doc_id
    ),
    common AS (
        SELECT b.doc_id, b.bm25_e6, ql.ql_e6
        FROM bm25 b JOIN ql USING (doc_id)
    ),
    ranked AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25_e6, doc_id) AS BIGINT) AS ra,
               CAST(ROW_NUMBER() OVER (ORDER BY ql_e6, doc_id) AS BIGINT) AS rb
        FROM common
    ),
    s2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
        FROM ranked
    )
    SELECT n AS n_common, sum_d2,
           CAST(FLOOR((1 - 6.0 * sum_d2 / (n * (n * n - 1.0)))
                      * 1000000) AS BIGINT) AS spearman_e6
    FROM s2
    """


@register(
    "x4_ranker_agreement",
    oracle=_ranker_agreement_oracle(),
    survey_ids=("X4", "W1", "A2", "J1"),
)
def x4_ranker_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-ranker agreement: Spearman rank correlation between BM25
    and query-likelihood-Dirichlet over the documents that match the
    shared fixed query — the eval a retrieval stack runs before
    fusing rankers (RRF is only worth its cost when the rankers
    DISAGREE; ρ near 1 says one ranker suffices). Both scores reuse
    the registered scorers' exact spellings (per-term ln-floored e6,
    order-free integer per-doc sums); ranks are ROW_NUMBER
    permutations under (score, doc_id) total orders, and ρ comes from
    :func:`spearman` (NULL for fewer than two common documents).

    Scale: tf filters to query terms at the explode; the hit-doc
    relation is what both rankings permute, through the distributed
    ranking of :func:`spearman`; the rank join keys on doc_id."""
    tok, dl, stats = bm25_collection(t(spark, sf_dir, "documents"))
    tf = (
        tok.filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    bm25 = (
        bm25_term_scores(tf, dl, stats)
        .groupBy("doc_id")
        .agg(F.sum("term_score_e6").cast("long").alias("bm25_e6"))
    )
    qterms = spark.createDataFrame(
        [(x,) for x in BM25_QUERY_TERMS], "term string"
    )
    ctf = (
        qterms.join(tok, "term", "left")
        .groupBy("term")
        .agg(F.count("doc_id").cast("long").alias("ctf"))
        .filter(F.col("ctf") > 0)
    )
    ql = (
        dl.crossJoin(F.broadcast(ctf))
        .crossJoin(F.broadcast(stats))
        .join(tf, ["doc_id", "term"], "left")
        .select("doc_id", ql_term_e6().alias("lp_e6"))
        .groupBy("doc_id")
        .agg(F.sum("lp_e6").cast("long").alias("ql_e6"))
    )
    return spearman(bm25.join(ql, "doc_id"), "doc_id", "bm25_e6", "ql_e6").select(
        F.col("n").alias("n_common"),
        "sum_d2",
        F.col("rho_e6").alias("spearman_e6"),
    )


@register(
    "x4_kendall_tau_bins",
    oracle="""
    WITH cells AS (
        SELECT CAST(n_chars // 200 AS BIGINT) AS x,
               CAST(len(string_split(text, ' ')) // 5 AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ),
    cd AS (
        SELECT
            CAST(SUM(CASE WHEN b.y > a.y
                     THEN CAST(a.n AS DECIMAL(38,0)) * CAST(b.n AS DECIMAL(38,0))
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS c,
            CAST(SUM(CASE WHEN b.y < a.y
                     THEN CAST(a.n AS DECIMAL(38,0)) * CAST(b.n AS DECIMAL(38,0))
                     ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS d
        FROM cells a JOIN cells b ON a.x < b.x
    ),
    nn AS (SELECT CAST(SUM(n) AS DECIMAL(38,0)) AS n_docs FROM cells),
    tx AS (
        SELECT CAST(SUM(CAST(tn AS DECIMAL(38,0)) * (CAST(tn AS DECIMAL(38,0)) - 1)
                    / 2) AS DECIMAL(38,0)) AS ties
        FROM (SELECT x, SUM(n) AS tn FROM cells GROUP BY x)
    ),
    ty AS (
        SELECT CAST(SUM(CAST(tn AS DECIMAL(38,0)) * (CAST(tn AS DECIMAL(38,0)) - 1)
                    / 2) AS DECIMAL(38,0)) AS ties
        FROM (SELECT y, SUM(n) AS tn FROM cells GROUP BY y)
    )
    SELECT CAST(nn.n_docs AS BIGINT) AS n_docs,
           CAST(cd.c AS BIGINT) AS concordant,
           CAST(cd.d AS BIGINT) AS discordant,
           CAST(FLOOR(CAST(cd.c - cd.d AS DOUBLE) * 1000000.0
                      / SQRT(CAST((nn.n_docs * (nn.n_docs - 1) / 2 - tx.ties)
                                  AS DOUBLE)
                             * CAST((nn.n_docs * (nn.n_docs - 1) / 2 - ty.ties)
                                    AS DOUBLE)))
                AS BIGINT) AS tau_b_e6
    FROM cd, nn, tx, ty
    """,
    survey_ids=("X4", "J7", "A2"),
)
def x4_kendall_tau_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between document length and token
    count (binned), computed from the contingency table: concordant/
    discordant mass is Σ n_xy·n_x'y' over cell pairs with x'>x — an
    O(cells²) bounded join, never the O(n²) document-pair join the
    textbook definition implies. Tie corrections (tau-b) from the
    marginals. Products carried as DECIMAL(38,0) (n(n−1)/2 overflows
    int64 past ~4.3e9 rows); the only float is the final
    exact→double sqrt ratio, identical in both engines."""
    docs = t(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    cells = (
        docs.select(
            (F.col("n_chars") / 200).cast("long").alias("x"),
            (n_tokens() / 5).cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("n").alias("nb")
    )
    cd = a.join(b, F.col("xa") < F.col("xb")).agg(
        F.sum(
            F.when(
                F.col("yb") > F.col("ya"),
                F.col("na").cast(dec) * F.col("nb").cast(dec),
            ).otherwise(F.lit(0).cast(dec))
        )
        .cast(dec)
        .alias("c"),
        F.sum(
            F.when(
                F.col("yb") < F.col("ya"),
                F.col("na").cast(dec) * F.col("nb").cast(dec),
            ).otherwise(F.lit(0).cast(dec))
        )
        .cast(dec)
        .alias("d"),
    )
    nn = cells.agg(F.sum("n").cast(dec).alias("n_docs"))
    tx = (
        cells.groupBy("x")
        .agg(F.sum("n").cast(dec).alias("tn"))
        .agg(
            F.sum(F.col("tn") * (F.col("tn") - 1) / 2).cast(dec).alias("ties_x")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("n").cast(dec).alias("tn"))
        .agg(
            F.sum(F.col("tn") * (F.col("tn") - 1) / 2).cast(dec).alias("ties_y")
        )
    )
    j = cd.crossJoin(nn).crossJoin(tx).crossJoin(ty)
    n0 = F.col("n_docs") * (F.col("n_docs") - 1) / 2
    return j.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.floor(
            (F.col("c") - F.col("d")).cast("double")
            * 1_000_000.0
            / denom(
                F.sqrt(
                    (n0 - F.col("ties_x")).cast("double")
                    * (n0 - F.col("ties_y")).cast("double")
                )
            )
        )
        .cast("long")
        .alias("tau_b_e6"),
    )


# ---------------------------------------------------------------------------
# Contingency tables
# ---------------------------------------------------------------------------

@register(
    "x4_cramers_v_lang_source",
    oracle="""
    WITH obs AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ),
    langs AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS row_tot FROM obs GROUP BY lang),
    srcs  AS (SELECT source, CAST(SUM(o) AS BIGINT) AS col_tot FROM obs GROUP BY source),
    tot   AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
        SELECT l.lang, s.source, l.row_tot, s.col_tot, COALESCE(obs.o, 0) AS o
        FROM langs l
        CROSS JOIN srcs s
        LEFT JOIN obs ON obs.lang = l.lang AND obs.source = s.source
    ),
    cells AS (
        SELECT CAST(FLOOR(
                   POWER(o - row_tot * col_tot / CAST(n AS DOUBLE), 2)
                   / (row_tot * col_tot / CAST(n AS DOUBLE)) * 1000000
               ) AS BIGINT) AS contrib_e6
        FROM grid, tot
    ),
    chi AS (SELECT CAST(SUM(contrib_e6) AS BIGINT) AS chi2_e6 FROM cells),
    dims AS (
        SELECT (SELECT n FROM tot) AS n,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM langs) AS r,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM srcs) AS c
    )
    SELECT d.n, d.r AS n_langs, d.c AS n_sources, chi.chi2_e6,
           CAST(FLOOR(SQRT((chi.chi2_e6 / 1000000.0)
                           / (d.n * LEAST(d.r - 1, d.c - 1))) * 1000000)
                AS BIGINT) AS cramers_v_e6
    FROM chi, dims d
    """,
    survey_ids=("X4", "A1", "J4"),
)
def x4_cramers_v_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the lang × source association — the
    [0,1]-normalized companion to the χ² statistic (χ² grows with N
    even for a fixed association strength; V = sqrt(χ²/(N·min(r−1,
    c−1))) does not). Identical per-cell e6-floored contributions as
    x4_chi2_lang_source (so the two operators can never disagree on
    the same data), one extra closed-form projection. Contingency
    grid is |langs|×|sources|-bounded."""
    docs = t(spark, sf_dir, "documents")
    obs = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        # |langs|×|sources| cells: checkpoint once so the four margin
        # branches reuse the counted table instead of re-scanning the
        # corpus (same idiom as x4_chi2_lang_source)
        .localCheckpoint()
    )
    langs = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("row_tot"))
    srcs = obs.groupBy("source").agg(F.sum("o").cast("long").alias("col_tot"))
    tot = obs.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        langs.crossJoin(srcs)
        .join(obs, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "row_tot",
            "col_tot",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("row_tot") * F.col("col_tot") / denom(F.col("n").cast("double"))
    cells = grid.select(
        F.floor(F.pow(F.col("o") - e, 2) / denom(e) * 1_000_000)
        .cast("long")
        .alias("contrib_e6")
    )
    chi = cells.agg(F.sum("contrib_e6").cast("long").alias("chi2_e6"))
    dims = (
        tot.crossJoin(langs.agg(F.count(F.lit(1)).cast("long").alias("r")))
        .crossJoin(srcs.agg(F.count(F.lit(1)).cast("long").alias("c")))
    )
    return chi.crossJoin(F.broadcast(dims)).select(
        "n",
        F.col("r").alias("n_langs"),
        F.col("c").alias("n_sources"),
        "chi2_e6",
        F.floor(
            F.sqrt(
                (F.col("chi2_e6") / 1_000_000.0)
                / denom(F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("cramers_v_e6"),
    )


def _kappa_oracle() -> str:
    from .textops import LANGID_CONFUSION_SQL

    # LANGID_CONFUSION_SQL is a complete `WITH ... SELECT` statement;
    # nest it as a derived relation and aggregate kappa on top.
    return f"""
    WITH conf AS ({LANGID_CONFUSION_SQL}),
    totals AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
               CAST(SUM(n_docs) FILTER (WHERE actual = predicted)
                    AS BIGINT) AS agree
        FROM conf
    ),
    rows_ AS (
        SELECT actual AS label, CAST(SUM(n_docs) AS BIGINT) AS r
        FROM conf GROUP BY actual
    ),
    cols_ AS (
        SELECT predicted AS label, CAST(SUM(n_docs) AS BIGINT) AS c
        FROM conf GROUP BY predicted
    ),
    chance AS (
        SELECT CAST(COALESCE(SUM(r.r * c.c), 0) AS BIGINT) AS s
        FROM rows_ r JOIN cols_ c ON c.label = r.label
    )
    SELECT t.n AS n_docs, t.agree AS n_agree,
           CAST(t.agree * 1000000 // t.n AS BIGINT) AS po_e6,
           CAST(ch.s * 1000000 // (t.n * t.n) AS BIGINT) AS pe_e6,
           CAST((t.n * t.agree - ch.s) * 1000000
                // NULLIF(t.n * t.n - ch.s, 0) AS BIGINT) AS kappa_e6
    FROM totals t CROSS JOIN chance ch
    """


@register(
    "x4_labeler_agreement_kappa",
    oracle=_kappa_oracle(),
    survey_ids=("X4", "A2", "F6"),
)
def x4_labeler_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the fixture's declared language labels
    and the trigram naive-Bayes classifier's predictions — the
    inter-annotator-agreement number a labeling pipeline reports
    (metadata vs content-classifier agreement, chance-corrected; raw
    accuracy over-credits skewed label distributions). Kappa is a pure
    rational of confusion-matrix integers, so the fixed point is EXACT
    with no logs: kappa = (n·trace − Σ rᵢcᵢ) / (n² − Σ rᵢcᵢ), emitted
    as e6 via integer division (truncating identically in both
    engines; n ≤ ~10^6 keeps n²·10^6 inside int64 — per-shard kappa
    merge is the >10^6-doc path since confusion matrices sum). Builds
    on the registered confusion relation (one extra |labels|-bounded
    rollup). The degenerate single-class matrix (s = n², kappa
    undefined) gives NULL in both engines."""
    from .textops import x4_trigram_langid_confusion

    # |langs|^2-bounded: pin it so the three rollups (totals, row
    # marginals, column marginals) read the matrix, not the corpus 3x
    conf = x4_trigram_langid_confusion(spark, sf_dir).localCheckpoint(
        eager=True
    )
    totals = conf.agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.sum(
            F.when(F.col("actual") == F.col("predicted"), F.col("n_docs"))
        )
        .cast("long")
        .alias("agree"),
    )
    rows_ = conf.groupBy(F.col("actual").alias("label")).agg(
        F.sum("n_docs").alias("r")
    )
    cols_ = conf.groupBy(F.col("predicted").alias("label")).agg(
        F.sum("n_docs").alias("c")
    )
    chance = (
        rows_.join(cols_, "label")
        .agg(
            F.coalesce(F.sum(F.col("r") * F.col("c")), F.lit(0))
            .cast("long")
            .alias("s")
        )
    )
    n, agree, s_ = F.col("n"), F.col("agree"), F.col("s")
    return (
        totals.crossJoin(F.broadcast(chance))
        .select(
            n.alias("n_docs"),
            F.col("agree").alias("n_agree"),
            div(agree * 1_000_000, n).cast("long").alias("po_e6"),
            div(s_ * 1_000_000, n * n).cast("long").alias("pe_e6"),
            div((n * agree - s_) * 1_000_000, n * n - s_).cast("long").alias("kappa_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Entropy and divergence
# ---------------------------------------------------------------------------

@register(
    "x4_entropy_per_source",
    oracle=f"""
    WITH cnt AS (
        SELECT source, tk, n AS c FROM ({_duck_token_counts("source")})
    ),
    nn AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source),
    lp AS (
        SELECT cnt.source, cnt.c,
               CAST(FLOOR(LN(cnt.c * 1.0 / nn.n) * 1000000) AS BIGINT) AS lp_e6
        FROM cnt JOIN nn USING (source)
    )
    SELECT lp.source,
           nn.n AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(-SUM(lp.c * lp.lp_e6) // nn.n AS BIGINT) AS entropy_e6
    FROM lp JOIN nn USING (source)
    GROUP BY lp.source, nn.n
    ORDER BY lp.source
    """,
    survey_ids=("X4", "A1", "F6"),
)
def x4_entropy_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's unigram distribution (nats,
    e6) — the lexical-diversity number a mixture designer reads next
    to the Gini/Zipf stats: low-entropy sources are templated or
    boilerplate-heavy and earn a down-weight regardless of volume.
    H = −Σ p ln p computed as −(Σ c·floor(1e6·ln(c/N))) div N — one
    ln-floor per (source, type), exact integer sums, truncating
    division identical both engines. Plan: one token scan → two
    map-combined rollups keyed on source — linear, |sources|-bounded
    output."""
    docs = t(spark, sf_dir, "documents")
    cnt = token_counts(docs, "source").withColumnRenamed("n", "c")
    nn = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    lp = cnt.join(nn, "source").select(
        "source",
        "c",
        "n",
        F.floor(F.log(F.col("c") * F.lit(1.0) / denom(F.col("n"))) * 1_000_000)
        .cast("long")
        .alias("lp_e6"),
    )
    return (
        lp.groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            div(-F.sum(F.col("c") * F.col("lp_e6")), F.col("n"))
            .cast("long")
            .alias("entropy_e6"),
        )
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            "n_types",
            "entropy_e6",
        )
        .orderBy("source")
    )


@register(
    "x4_entropy_rate_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS next_type
        FROM events
    ),
    tr AS (
        SELECT event_type AS s, next_type AS tgt, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    agg AS (
        SELECT s, CAST(SUM(n) AS BIGINT) AS n_from,
               CAST(SUM(n * CAST(FLOOR(LN(n) * 1000000000) AS BIGINT))
                    AS BIGINT) AS slog
        FROM tr GROUP BY s
    )
    SELECT s AS from_type, n_from,
           CAST(FLOOR((LN(CAST(n_from AS DOUBLE))
                       - CAST(slog AS DOUBLE)
                         / (CAST(n_from AS DOUBLE) * 1000000000.0))
                      * 1000000) AS BIGINT) AS h_cond_nats_e6
    FROM agg
    ORDER BY from_type
    """,
    survey_ids=("X4", "W2", "A1"),
)
def x4_entropy_rate_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user event process: H(next | current) per
    current state — how predictable the next action is from here. Low
    conditional entropy states are funnel bottlenecks (the next step
    is forced); uniform-high states are browsing. Same exact-sum
    identity as the Shannon-entropy operator (H = ln n − Σ n·L(n)/n·1e9
    with L = e9-floored log), applied to the transition relation —
    taxonomy²-bounded, one window pass + one aggregate."""
    ev = t(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w_seq).alias("tgt"),
        )
        .filter(F.col("tgt").isNotNull())
        .groupBy("s", "tgt")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    agg = tr.groupBy("s").agg(
        F.sum("n").cast("long").alias("n_from"),
        F.sum(F.col("n") * F.floor(F.log("n") * 1_000_000_000).cast("long"))
        .cast("long")
        .alias("slog"),
    )
    return agg.select(
        F.col("s").alias("from_type"),
        "n_from",
        F.floor(
            (
                F.log(F.col("n_from").cast("double"))
                - F.col("slog").cast("double")
                / (F.col("n_from").cast("double") * 1_000_000_000.0)
            )
            * 1_000_000
        )
        .cast("long")
        .alias("h_cond_nats_e6"),
    ).orderBy("from_type")


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
    DECIMAL(38,0) so no product can overflow. Histograms are
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
                        / denom(F.col("p_tot") * 1_000_000_000.0)
                        + F.lit(ln2)
                        + F.log(F.col("q_tot").cast("double"))
                    )
                    + (
                        F.col("num_e9_sb").cast("double")
                        / denom(F.col("q_tot") * 1_000_000_000.0)
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


# ---------------------------------------------------------------------------
# Markov removal-effect attribution
# ---------------------------------------------------------------------------

#: Non-converting channels of the fixture event taxonomy, i.e. every
#: event type except the absorbing conversion 'purchase'. Fixed (not
#: data-derived) so the unrolled oracle and the Spark solve agree on
#: the variant set by construction.
CHANNELS = ("click", "error", "signup", "view")


#: Fixed-point scale for absorption probabilities (conversion prob in
#: units of 1e-12) and synchronous iteration count. 24 iterations of a
#: 5-transient-state chain converge far below the e12 floor; fixed
#: schedule = deterministic cross-engine contract (same reasoning as
#: LPA_ROUNDS).
MARKOV_SCALE = 1_000_000_000_000


MARKOV_ITERS = 24


_JOURNEY_SQL = """
    base AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        FROM events
    ),
    fp AS (
        SELECT user_id, MIN(rn) AS prn FROM base
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    j AS (
        SELECT b.user_id, b.event_type, b.rn
        FROM base b LEFT JOIN fp ON fp.user_id = b.user_id
        WHERE fp.prn IS NULL OR b.rn <= fp.prn
    ),
    hops AS (
        SELECT event_type AS s,
               COALESCE(LEAD(event_type) OVER (PARTITION BY user_id ORDER BY rn),
                        CASE WHEN event_type = 'purchase' THEN NULL ELSE 'END' END)
                   AS tgt
        FROM j
        UNION ALL
        SELECT 'START' AS s, event_type AS tgt FROM j WHERE rn = 1
    ),
    trans AS MATERIALIZED (
        SELECT s, tgt, CAST(COUNT(*) AS BIGINT) AS n
        FROM hops WHERE tgt IS NOT NULL GROUP BY s, tgt
    ),
    den AS MATERIALIZED (
        SELECT s, CAST(SUM(n) AS BIGINT) AS den FROM trans GROUP BY s
    )
"""


def _markov_oracle() -> str:
    """Unrolled synchronous absorption iteration, identical integer
    floor arithmetic to the Spark-side solve (HUGEINT products — the
    DuckDB spelling of the unbounded-int discipline). The attribution
    share uses the pmod floor-division idiom on HUGEINT (never a
    double FLOOR: effect_e12·1e6 ≈ 1e18 exceeds a double's 2^53 exact
    range), exactly mirroring Python's ``//``; the idiom
    assumes the effect total is positive, which holds whenever any
    channel carries conversions (removal effects are non-negative)."""
    chans = ", ".join(f"('{c}')" for c in ("base",) + CHANNELS)
    steps = [
        """
    v0 AS (SELECT rm, s, CAST(0 AS HUGEINT) AS val FROM vden)"""
    ]
    for k in range(MARKOV_ITERS):
        # LEFT JOIN on vtrans: a state whose every outgoing
        # transition targets the removed channel keeps its vden row with
        # val 0 (COALESCE of the all-NULL SUM) instead of dropping out of
        # v_k — so a variant where one channel owns all of START's
        # transitions still yields its START row (conv 0), matching the
        # Spark-side solve's row set.
        steps.append(f"""
    v{k + 1} AS MATERIALIZED (
        SELECT d.rm, d.s,
               (COALESCE(SUM(CASE WHEN tr.tgt = 'purchase'
                         THEN CAST(tr.n AS HUGEINT) * {MARKOV_SCALE}
                         WHEN tr.tgt = 'END' THEN CAST(0 AS HUGEINT)
                         ELSE CAST(tr.n AS HUGEINT) * COALESCE(pv.val, 0) END),
                         CAST(0 AS HUGEINT))
                // d.den) AS val
        FROM vden d
        LEFT JOIN vtrans tr ON tr.rm = d.rm AND tr.s = d.s
        LEFT JOIN v{k} pv ON pv.rm = d.rm AND pv.s = tr.tgt
        GROUP BY d.rm, d.s, d.den
    )""")
    final = f"""
    WITH {_JOURNEY_SQL},
    variants AS (SELECT * FROM (VALUES {chans}) v(rm)),
    vtrans AS MATERIALIZED (
        SELECT v.rm, tr.s, tr.tgt, tr.n
        FROM variants v JOIN trans tr
          ON tr.s <> v.rm AND tr.tgt <> v.rm
    ),
    vden AS MATERIALIZED (
        SELECT v.rm, d.s, d.den FROM variants v JOIN den d ON d.s <> v.rm
    ),
    {",".join(steps)},
    conv AS (
        SELECT rm, CAST(val AS BIGINT) AS conv_e12
        FROM v{MARKOV_ITERS} WHERE s = 'START'
    ),
    effects AS (
        SELECT c.rm AS channel,
               b.conv_e12 AS base_conv_e12,
               c.conv_e12 AS removed_conv_e12,
               b.conv_e12 - c.conv_e12 AS removal_effect_e12
        FROM conv c, (SELECT conv_e12 FROM conv WHERE rm = 'base') b
        WHERE c.rm <> 'base'
    ),
    scaled AS (
        SELECT channel, base_conv_e12, removed_conv_e12, removal_effect_e12,
               CAST(removal_effect_e12 AS HUGEINT) * 1000000 AS num,
               NULLIF(CAST((SELECT SUM(removal_effect_e12) FROM effects)
                           AS HUGEINT), 0) AS tot
        FROM effects
    )
    SELECT channel, base_conv_e12, removed_conv_e12, removal_effect_e12,
           -- the pmod floor-division idiom is floor-exact only for tot > 0
           -- (r9 advice): NULL out attribution when the effect total is
           -- non-positive, mirrored on the Spark side
           CASE WHEN tot > 0
                THEN CAST((num - ((num % tot + tot) % tot)) // tot AS BIGINT)
                ELSE NULL END AS attribution_e6
    FROM scaled
    ORDER BY channel
    """
    return final


@register(
    "x4_markov_attribution",
    oracle=_markov_oracle(),
    survey_ids=("X4", "W2", "A1", "J1"),
)
def x4_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution. Journeys (truncated at
    first purchase, START prepended, END-closed) yield a transition
    count matrix; conversion probability from START is solved by 24
    synchronous fixed-point iterations; each channel's credit is the
    drop in conversion when journeys through it are severed (its
    transitions redirect to END while denominators stay original).

    The distributed work is the journey/transition windows over the
    full event log; the solve operates on the ≤(states+2)² collected
    matrix — a bounded parameter fetch (the state space is the event
    taxonomy, not the data), exactly the k-means-centroid collect
    idiom. Arithmetic is integer fixed-point (e12 scale, floor
    division, unbounded Python ints == DuckDB HUGEINT), so the
    24-step schedule is hash-exact against the unrolled-CTE oracle."""
    ev = t(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id", "event_type", F.row_number().over(w_seq).alias("rn")
    )
    fp = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    j = base.join(fp, "user_id", "left").filter(
        F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
    )
    w_j = Window.partitionBy("user_id").orderBy("rn")
    hops = j.select(
        F.col("event_type").alias("s"),
        F.coalesce(
            F.lead("event_type").over(w_j),
            F.when(F.col("event_type") == "purchase", F.lit(None)).otherwise(
                F.lit("END")
            ),
        ).alias("tgt"),
    ).unionByName(
        j.filter(F.col("rn") == 1).select(
            F.lit("START").alias("s"), F.col("event_type").alias("tgt")
        )
    )
    trans_rows = (
        hops.filter(F.col("tgt").isNotNull())
        .groupBy("s", "tgt")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()  # bounded: |taxonomy+2|² cells, not data-sized
    )
    trans = {(r["s"], r["tgt"]): int(r["n"]) for r in trans_rows}
    den = {}
    for (s, _), n in trans.items():
        den[s] = den.get(s, 0) + n

    def solve(removed: str | None) -> int:
        """Conversion prob from START (e12 fixed point) with `removed`
        severed; exact ints, floor division — mirrors the oracle."""
        states = [s for s in den if s != removed]
        val = {s: 0 for s in states}
        for _ in range(MARKOV_ITERS):
            nxt = {}
            for s in states:
                num = 0
                for (a, b), n in trans.items():
                    if a != s or b == removed:
                        continue
                    if b == "purchase":
                        num += n * MARKOV_SCALE
                    elif b != "END":
                        num += n * val.get(b, 0)
                nxt[s] = num // den[s]
            val = nxt
        return val.get("START", 0)

    base_conv = solve(None)
    effects = {c: base_conv - solve(c) for c in CHANNELS}
    total = sum(effects.values())
    # no journey, no START state: the oracle's conversion relation is
    # empty, and so is the attribution
    rows = [] if "START" not in den else [
        Row(
            channel=c,
            base_conv_e12=base_conv,
            removed_conv_e12=base_conv - effects[c],
            removal_effect_e12=effects[c],
            # attribution is defined only for a positive effect total
            # (pmod floor idiom in the oracle is floor-exact only there);
            # non-positive total -> NULL in both engines
            attribution_e6=(effects[c] * 1_000_000) // total
            if total > 0
            else None,
        )
        for c in sorted(CHANNELS)
    ]
    schema = (
        "channel string, base_conv_e12 long, removed_conv_e12 long, "
        "removal_effect_e12 long, attribution_e6 long"
    )
    return spark.createDataFrame(rows, schema=schema)


# ---------------------------------------------------------------------------
# Robust estimators and resampling
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
    k = v.withColumn("k_lo", div(F.col("n") * 5, F.lit(100)))
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
            / denom(F.col("n").cast("double"))
        )
        .cast("long")
        .alias("winsorized_mean_c2"),
        F.floor(
            F.col("sum_mid").cast("double")
            / denom((F.col("n") - 2 * F.col("k_lo")).cast("double"))
        )
        .cast("long")
        .alias("trimmed_mean_c2"),
    ).orderBy("event_type")


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
    no interpolation. Selection is DISTRIBUTED (never collect the
    ~n²/2 pair array into one task): range-partition the
    slopes by the total order, count per partition (≤P rows to the
    driver), locate the partition holding global rank ⌈n/2⌉ from the
    cumulative counts, then row_number only within that one
    partition — each task holds ~1/P of the pairs, so the 10-year
    lattice's ~6.7M pairs never sort in a single executor.

    Empty-case contract: with <2 distinct days there are no pairwise
    slopes and BOTH engines return 0 rows (the oracle's `ranked` CTE is
    empty, so its final SELECT emits nothing; the Spark side
    short-circuits to an empty DataFrame on n_pairs=0) — a slope
    estimator with no pairs has no estimate; pinned by
    tests/test_stats.py::test_theil_sen_empty_case_contract."""
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
        div(F.col("num") - F.pmod("num", "den"), F.col("den")).alias("slope_e6"),
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


#: Bootstrap replicates and the deterministic weight law. Weight of row
#: r in replicate b = (md5(b||'_'||event_id) mod 4) with mean 1 shifted
#: to {0,1,2,3}·(1/?)... — we use the simple integer multiplier
#: bootstrap: w ∈ {0,1,2,3} uniform (mean 1.5) would bias totals, so
#: weights are drawn from {0,1,2} with P(0)=P(2)=1/4, P(1)=1/2 via two
#: md5 bits (mean exactly 1, variance 1/2 — a valid multiplier
#: bootstrap law); everything integer, replayable by the oracle.
BOOT_B = 32


@register(
    "x4_poisson_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT UNNEST(GENERATE_SERIES(0, {BOOT_B - 1})) AS b),
    w AS (
        SELECT r.b,
               -- (first-8-hex-digits AS integer) % 4 depends only on the
               -- 8th hex digit (16 ≡ 0 mod 4), so read that one digit via
               -- STRPOS — version-stable core SQL, no hex-string cast
               -- (r9 advice: the '0x'||... AS BIGINT cast is
               -- DuckDB-version-sensitive)
               CASE ((STRPOS('0123456789abcdef',
                             SUBSTRING(MD5(CAST(r.b AS VARCHAR) || '_'
                                           || CAST(e.event_id AS VARCHAR)), 8, 1))
                      - 1) % 4)
                    WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 2 END AS wt,
               CAST(FLOOR(e.value * 100) AS BIGINT) AS v_c2
        FROM events e CROSS JOIN reps r
        WHERE e.event_type = 'purchase'
    ),
    totals AS (
        SELECT b, CAST(SUM(wt * v_c2) AS BIGINT) AS total_c2
        FROM w GROUP BY b
    ),
    ranked AS (
        SELECT total_c2,
               ROW_NUMBER() OVER (ORDER BY total_c2) AS rn,
               COUNT(*) OVER () AS n
        FROM totals
    ),
    base AS (
        SELECT CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS point_c2
        FROM events WHERE event_type = 'purchase'
    )
    SELECT base.point_c2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM totals) AS n_replicates,
           (SELECT total_c2 FROM ranked WHERE rn = 2) AS ci_lo_c2,
           (SELECT total_c2 FROM ranked WHERE rn = n - 1) AS ci_hi_c2,
           (SELECT CAST(MIN(total_c2) AS BIGINT) FROM totals) AS boot_min_c2,
           (SELECT CAST(MAX(total_c2) AS BIGINT) FROM totals) AS boot_max_c2
    FROM base
    """,
    survey_ids=("X4", "A2", "W1"),
)
def x4_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass distributed bootstrap CI for total purchase revenue —
    the multiplier-bootstrap trick that makes resampling feasible at
    100 TB (Chamandy et al.): instead of B passes drawing B resamples,
    each row contributes to all B replicates at once with a
    deterministic integer weight (two md5 bits → {0,1,2} with
    P(0)=P(2)=1/4, P(1)=1/2: mean exactly 1, so replicate totals are
    unbiased). The replicate grid is a B-row broadcast; the only
    shuffle is the B-key aggregate (map-side combined: each task emits
    at most B partial rows regardless of input size). The CI is the
    2nd/(B-1)th order statistic of the 32 replicate totals (~93%
    interval) — order statistics over a B-row relation, trivially
    driver-safe. Weights and totals are all exact integers, so the
    oracle replays the identical resampling."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    reps = spark.range(BOOT_B).select(F.col("id").alias("b"))
    wted = ev.crossJoin(F.broadcast(reps)).select(
        "b",
        (
            F.when(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("_", F.col("b"), F.col("event_id"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 4
                == 0,
                0,
            )
            .when(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("_", F.col("b"), F.col("event_id"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 4
                == 3,
                2,
            )
            .otherwise(1)
        ).alias("wt"),
        F.floor(F.col("value") * 100).cast("long").alias("v_c2"),
    )
    totals = wted.groupBy("b").agg(
        F.sum(F.col("wt") * F.col("v_c2")).cast("long").alias("total_c2")
    )
    wr = Window.orderBy("total_c2")  # B rows: bounded window
    ranked = totals.select(
        "total_c2",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    point = ev.agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("point_c2")
    )
    stats = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.max(F.when(F.col("rn") == 2, F.col("total_c2")))
        .cast("long")
        .alias("ci_lo_c2"),
        F.max(F.when(F.col("rn") == F.col("n") - 1, F.col("total_c2")))
        .cast("long")
        .alias("ci_hi_c2"),
        F.min("total_c2").cast("long").alias("boot_min_c2"),
        F.max("total_c2").cast("long").alias("boot_max_c2"),
    )
    return point.crossJoin(F.broadcast(stats)).select(
        "point_c2",
        "n_replicates",
        "ci_lo_c2",
        "ci_hi_c2",
        "boot_min_c2",
        "boot_max_c2",
    )


# ---------------------------------------------------------------------------
# Mergeable sketches
# ---------------------------------------------------------------------------
# `a_percentiles_approx` (aggregates_ext) is the exact tier; a 100 TB
# percentile never sorts globally — it builds per-shard mergeable
# summaries and merges them. The buckets are HDR-style decimal ones
# (2 significant digits → ≤5% relative error) because the bucket
# function is integer/string arithmetic, deterministic in both
# engines, unlike float log2 buckets whose FLOOR can straddle an ulp
# at powers of two.

#: Sketch shards: stands in for per-executor partial sketches. 32
#: matches the local test parallelism; at 100 TB it is "one partial
#: sketch per input partition" and the merge moves <= |buckets| rows
#: per shard instead of the data.
SKETCH_SHARDS = 32


#: Bucket = (decimal magnitude, first two significant digits), i.e.
#: 2 significant digits -> upper/lower bound ratio <= 1.05 within a
#: bucket (<=5% relative error on any reported quantile). Computed
#: with string arithmetic (LENGTH / SUBSTR of the integer's decimal
#: spelling) because that is bit-identical across engines, unlike
#: FLOOR(LOG2(v)) whose double rounding can straddle exact powers.
_BUCKET_SQL = (
    "CAST(LENGTH(CAST({v} AS STRING)) AS BIGINT) * 100 + "
    "CAST(SUBSTR(CAST({v} AS STRING), 1, 2) AS BIGINT)"
)


#: Inclusive bucket upper bound: (d2+1)*10^(e-2) - 1 for e >= 2, else
#: d2 itself (single-digit values are their own bucket). POWER is
#: exact in a double up to 10^15; price cents stay far below.
#: {b} / 100 in the >=10 branch always has fraction in [.10, .99]
#: (d2 >= 10 there), so FLOOR of the double quotient can never sit on
#: an integer boundary — engine-safe without div/// dialect splits.
_BUCKET_UB_SQL = (
    "CASE WHEN {b} % 100 >= 10 THEN "
    "CAST(({b} % 100 + 1) * POWER(10, FLOOR({b} / 100) - 2) AS BIGINT) - 1 "
    "ELSE {b} % 100 END"
)


def _quantile_sketch_oracle() -> str:
    b = _BUCKET_SQL.format(v="cents")
    ub = _BUCKET_UB_SQL.format(b="bucket")
    return f"""
    WITH vals AS (
        SELECT l_returnflag AS flag,
               l_orderkey % {SKETCH_SHARDS} AS shard,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM lineitem
    ),
    shard_sketch AS (
        SELECT flag, shard, {b} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM vals GROUP BY flag, shard, bucket
    ),
    merged AS (
        SELECT flag, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM shard_sketch GROUP BY flag, bucket
    ),
    cdf AS (
        SELECT flag, bucket, cnt,
               SUM(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS cum,
               SUM(cnt) OVER (PARTITION BY flag) AS n
        FROM merged
    ),
    qs AS (
        SELECT flag, q,
               MIN(bucket) AS qbucket
        FROM cdf
        CROSS JOIN (VALUES (50), (90), (99)) AS t(q)
        WHERE cum * 100 >= q * n
        GROUP BY flag, q
    )
    SELECT flag, CAST(q AS BIGINT) AS q,
           CAST({ub.replace("bucket", "qbucket")} AS BIGINT)
               AS quantile_ub_cents,
           (SELECT CAST(MAX(n) AS BIGINT) FROM cdf c WHERE c.flag = qs.flag)
               AS n_values,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM merged m
            WHERE m.flag = qs.flag) AS n_buckets
    FROM qs
    ORDER BY flag, q
    """


@register(
    "a_hdr_quantile_sketch",
    oracle=_quantile_sketch_oracle(),
    survey_ids=("A1", "A3", "W3", "F5"),
)
def a_hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles — the 100 TB serving tier next
    to the exact `a_percentiles_approx`: per-shard HDR-style decimal
    bucket sketches (2 significant digits, <=5% relative error bound)
    merged EXACTLY by summing bucket counts, then p50/p90/p99 read off
    the merged CDF. The two-stage shape is the point: stage 1 is an
    executor-local partial sketch (map-side combine does it for free),
    stage 2 moves <= |buckets| rows per shard — never the data — and
    bucket-count addition is associative+commutative, so the merged
    sketch is bit-identical to a single-pass histogram (which is what
    makes the result hash-checkable rather than
    implementation-defined, unlike t-digest whose centroids depend on
    merge order). Bucketing is integer/string arithmetic, identical
    in both engines."""
    vals = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_orderkey") % SKETCH_SHARDS).alias("shard"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents"),
    )
    shard_sketch = vals.groupBy(
        "flag", "shard", F.expr(_BUCKET_SQL.format(v="cents")).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    merged = shard_sketch.groupBy("flag", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    w_cum = Window.partitionBy("flag").orderBy("bucket")
    w_all = Window.partitionBy("flag")
    cdf = merged.select(
        "flag",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_buckets"),
    )
    qtargets = spark.createDataFrame([(50,), (90,), (99,)], "q long")
    qs = (
        cdf.crossJoin(F.broadcast(qtargets))
        .filter(F.col("cum") * 100 >= F.col("q") * F.col("n"))
        .groupBy("flag", "q")
        .agg(
            F.min("bucket").alias("qbucket"),
            F.max("n").cast("long").alias("n_values"),
            F.max("n_buckets").cast("long").alias("n_buckets"),
        )
    )
    return qs.select(
        "flag",
        "q",
        F.expr(_BUCKET_UB_SQL.format(b="qbucket"))
        .cast("long")
        .alias("quantile_ub_cents"),
        "n_values",
        "n_buckets",
    ).orderBy("flag", "q")


#: Sweep resolutions: significant decimal digits per bucket. r=1 is
#: ~tens-of-percent error with a handful of buckets; r=3 is <=0.5%
#: with ~x100 the buckets — the sketch's size-vs-accuracy knob.
SKETCH_RESOLUTIONS = (1, 2, 3)


def _sketch_sweep_oracle() -> str:
    res = ", ".join(f"({r})" for r in SKETCH_RESOLUTIONS)
    return f"""
    WITH vals AS (
        SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM lineitem
    ),
    rb AS (
        SELECT r, CAST(LENGTH(CAST(cents AS VARCHAR)) AS BIGINT) * 1000
                   + CAST(SUBSTR(CAST(cents AS VARCHAR), 1, r) AS BIGINT)
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM vals CROSS JOIN (VALUES {res}) AS t(r)
        GROUP BY r, bucket
    ),
    cdf AS (
        SELECT r, bucket, cnt,
               SUM(cnt) OVER (PARTITION BY r ORDER BY bucket) AS cum,
               SUM(cnt) OVER (PARTITION BY r) AS n,
               COUNT(*) OVER (PARTITION BY r) AS n_buckets
        FROM rb
    ),
    sk AS (
        SELECT r, q, MIN(bucket) AS qbucket,
               CAST(MAX(n_buckets) AS BIGINT) AS n_buckets
        FROM cdf CROSS JOIN (VALUES (50), (90), (99)) AS t(q)
        WHERE cum * 100 >= q * n
        GROUP BY r, q
    ),
    ecdf AS (
        SELECT cents,
               SUM(cnt) OVER (ORDER BY cents) AS cum,
               SUM(cnt) OVER () AS n
        FROM (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM vals GROUP BY cents)
    ),
    exact AS (
        SELECT q, CAST(MIN(cents) AS BIGINT) AS exact_cents
        FROM ecdf CROSS JOIN (VALUES (50), (90), (99)) AS t(q)
        WHERE cum * 100 >= q * n
        GROUP BY q
    )
    SELECT CAST(s.r AS BIGINT) AS r, CAST(s.q AS BIGINT) AS q,
           CAST(CASE WHEN s.qbucket // 1000 > s.r THEN
                    (s.qbucket % 1000 + 1)
                    * POWER(10, s.qbucket // 1000 - s.r) - 1
                ELSE s.qbucket % 1000 END AS BIGINT) AS sketch_ub_cents,
           e.exact_cents,
           CAST((CAST(CASE WHEN s.qbucket // 1000 > s.r THEN
                    (s.qbucket % 1000 + 1)
                    * POWER(10, s.qbucket // 1000 - s.r) - 1
                ELSE s.qbucket % 1000 END AS BIGINT) - e.exact_cents)
                * 1000000 // e.exact_cents AS BIGINT) AS rel_err_e6,
           s.n_buckets
    FROM sk s JOIN exact e ON e.q = s.q
    ORDER BY r, q
    """


@register(
    "a_sketch_resolution_sweep",
    oracle=_sketch_sweep_oracle(),
    survey_ids=("A1", "A3", "W3", "F5"),
)
def a_sketch_resolution_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch's tuning curve: p50/p90/p99 upper bounds at
    1, 2, and 3 significant-digit bucket resolutions, each against the
    EXACT quantile (relative error e6) and the bucket count it paid
    for — the size-vs-accuracy knob a production sketch is sized with
    (the decontam-n-gram-sweep discipline applied to A3). One scan:
    the value relation is exploded across resolutions (one keyed
    rollup reads it three times logically, never three scans), and the
    exact tier reuses the identical CDF-walk machinery at infinite
    resolution (bucket = the value itself), so the sweep's exactness
    argument is the sketch's own. Sketch UB must always sit >= exact
    with error shrinking ~10x per digit — pinned by pytest."""
    res = spark.createDataFrame(
        [(r,) for r in SKETCH_RESOLUTIONS], "r long"
    )
    vals = t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents")
    )
    rb = (
        vals.crossJoin(F.broadcast(res))
        .groupBy(
            "r",
            F.expr(
                "CAST(LENGTH(CAST(cents AS STRING)) AS BIGINT) * 1000"
                " + CAST(SUBSTR(CAST(cents AS STRING), 1, r) AS BIGINT)"
            ).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w_cum = Window.partitionBy("r").orderBy("bucket")
    w_all = Window.partitionBy("r")
    cdf = rb.select(
        "r",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_buckets"),
    )
    qtargets = spark.createDataFrame([(50,), (90,), (99,)], "q long")
    sk = (
        cdf.crossJoin(F.broadcast(qtargets))
        .filter(F.col("cum") * 100 >= F.col("q") * F.col("n"))
        .groupBy("r", "q")
        .agg(
            F.min("bucket").alias("qbucket"),
            F.max("n_buckets").cast("long").alias("n_buckets"),
        )
    )
    # exact tier: value-TYPE relation (distinct cents — domain-bounded)
    # with the de-globalized prefix scan, never a SinglePartition window
    dist = vals.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = dist.agg(F.sum("cnt").alias("n"))
    ecdf = global_running(dist, ["cents"], "cnt", "sum", "cum").crossJoin(
        F.broadcast(tot)
    )
    exact = (
        ecdf.crossJoin(F.broadcast(qtargets))
        .filter(F.col("cum") * 100 >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("cents").cast("long").alias("exact_cents"))
    )
    qb, r, exact_c = F.col("qbucket"), F.col("r"), F.col("exact_cents")
    mag = div(qb, F.lit(1000))
    ub = (
        F.when(mag > r, (qb % 1000 + 1) * F.pow(F.lit(10), mag - r) - 1)
        .otherwise(qb % 1000)
        .cast("long")
    )
    return (
        sk.join(exact, "q")
        .select(
            "r",
            "q",
            ub.alias("sketch_ub_cents"),
            "exact_cents",
            div((ub - exact_c) * 1000000, exact_c).cast("long").alias("rel_err_e6"),
            "n_buckets",
        )
        .orderBy("r", "q")
    )


#: Position widths swept: h hex chars -> m = 16^h buckets per hash.
BLOOM_SWEEP_HEX = (2, 3, 4)


def _bloom_sweep_oracle() -> str:
    hs = ", ".join(f"({h})" for h in BLOOM_SWEEP_HEX)
    dim_pos = " UNION ALL ".join(
        f"SELECT {i} AS hash_id,"
        f" SUBSTR(MD5('b{i}|' || CAST(c_custkey AS VARCHAR)), 1, 4)"
        " AS pos4 FROM dim"
        for i in range(BLOOM_HASHES)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT o_custkey, {i} AS hash_id,"
        f" SUBSTR(MD5('b{i}|' || CAST(o_custkey AS VARCHAR)), 1, 4)"
        " AS pos4 FROM fact_keys"
        for i in range(BLOOM_HASHES)
    )
    return f"""
    WITH dim AS (
        SELECT DISTINCT c_custkey FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
    ),
    fact_keys AS (SELECT DISTINCT o_custkey FROM orders),
    dim4 AS ({dim_pos}),
    probe4 AS ({probe_pos}),
    hh AS (SELECT h FROM (VALUES {hs}) AS t(h)),
    bits AS (
        SELECT DISTINCT hh.h, d.hash_id, SUBSTR(d.pos4, 1, hh.h) AS pos
        FROM dim4 d CROSS JOIN hh
    ),
    hits AS (
        SELECT p.o_custkey, hh.h
        FROM probe4 p
        CROSS JOIN hh
        JOIN bits b ON b.h = hh.h AND b.hash_id = p.hash_id
                   AND b.pos = SUBSTR(p.pos4, 1, hh.h)
        GROUP BY p.o_custkey, hh.h
        HAVING COUNT(*) = {BLOOM_HASHES}
    ),
    match_keys AS (
        SELECT o_custkey FROM fact_keys
        WHERE o_custkey IN (SELECT c_custkey FROM dim)
    ),
    per_h AS (
        SELECT h.h,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bits b
                 WHERE b.h = h.h) AS n_filter_entries,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM hits t
                 WHERE t.h = h.h) AS n_pass_keys,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM hits t
                 WHERE t.h = h.h
                   AND t.o_custkey NOT IN
                       (SELECT o_custkey FROM match_keys)) AS n_false_pos,
               (SELECT COUNT(*) FROM match_keys m
                 WHERE m.o_custkey NOT IN
                       (SELECT o_custkey FROM hits t WHERE t.h = h.h)) = 0
                   AS zero_false_neg
        FROM hh h
    )
    SELECT CAST(h AS BIGINT) AS hex_chars,
           CAST(POWER(16, h) AS BIGINT) AS m_buckets,
           n_filter_entries, n_pass_keys, n_false_pos,
           CAST(n_false_pos * 1000000 // GREATEST(
               (SELECT COUNT(*) FROM fact_keys)
               - (SELECT COUNT(*) FROM match_keys), 1) AS BIGINT)
               AS fp_ppm,
           zero_false_neg
    FROM per_h
    ORDER BY hex_chars
    """


@register(
    "j_bloom_fpr_sweep",
    oracle=_bloom_sweep_oracle(),
    survey_ids=("J5", "J6", "P6", "A1"),
)
def j_bloom_fpr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom prejoin's tuning curve: measured false-positive rate
    vs filter size (m = 16^h buckets per hash for h hex chars of the
    md5 position — 256 / 4096 / 65536), on the SAME dim/fact key sets
    `j_bloom_prejoin_prune` serves at its fixed 4096. Sizing a scan-
    side filter is bits-per-key vs wasted-shuffle-rows — the knob a
    100 TB fact join pins with a measured curve, not the asymptotic
    (1-e^(-kn/m))^k formula. One md5 pass: h-char positions are
    PREFIXES of the 4-char position (SUBSTR prefix property), so the
    sweep derives every width from one hashed relation — never one
    hash pass per width. Zero-false-negatives holds at every width by
    construction (a Bloom filter can only over-admit); pinned per row
    and by pytest, with monotone FPR decay as m grows."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    dim = (
        cust.filter(
            (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 0)
        )
        .select("c_custkey")
        .distinct()
    )
    fact_keys, (n_fact,) = checkpoint_with(
        orders.select("o_custkey").distinct(), F.count(F.lit(1))
    )

    def pos4(col: str, src: DataFrame, out: str) -> DataFrame:
        structs = F.array(
            *[
                F.struct(
                    F.lit(i).alias("hash_id"),
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"b{i}|"), F.col(col).cast("string")
                            )
                        ),
                        1,
                        4,
                    ).alias("pos4"),
                )
                for i in range(BLOOM_HASHES)
            ]
        )
        return src.select(
            F.col(col).alias(out), F.explode(structs).alias("p")
        ).select(out, "p.hash_id", "p.pos4")

    hh = spark.createDataFrame([(h,) for h in BLOOM_SWEEP_HEX], "h long")
    bits = (
        pos4("c_custkey", dim, "k")
        .crossJoin(F.broadcast(hh))
        .select("h", "hash_id", F.expr("substr(pos4, 1, h)").alias("pos"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    probes = (
        pos4("o_custkey", fact_keys, "o_custkey")
        .crossJoin(F.broadcast(hh))
        .select(
            "o_custkey",
            "h",
            "hash_id",
            F.expr("substr(pos4, 1, h)").alias("pos"),
        )
    )
    hits = (
        probes.join(bits, ["h", "hash_id", "pos"])
        .groupBy("o_custkey", "h")
        .agg(F.count(F.lit(1)).alias("k_hit"))
        .filter(F.col("k_hit") == BLOOM_HASHES)
        .select("o_custkey", "h")
        .localCheckpoint(eager=True)
    )
    match_keys, (n_match,) = checkpoint_with(
        fact_keys.join(
            dim.withColumnRenamed("c_custkey", "o_custkey"),
            "o_custkey",
            "left_semi",
        ),
        F.count(F.lit(1)),
    )
    fp = hits.join(match_keys, "o_custkey", "left_anti")
    missed = (
        match_keys.crossJoin(F.broadcast(hh))
        .join(hits, ["o_custkey", "h"], "left_anti")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_missed"))
    )
    # every width keeps its row, with zero counts, when the dimension or
    # the fact keys are empty (the oracle's scalar subqueries count 0)
    per_h = hh
    for rel, name in ((bits, "n_filter_entries"), (hits, "n_pass_keys"), (fp, "n_false_pos")):
        per_h = per_h.join(
            rel.groupBy("h").agg(F.count(F.lit(1)).alias(name)), "h", "left"
        )
    per_h = per_h.join(missed, "h", "left")
    zero = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    n_unmatched = max(n_fact - n_match, 1)
    return per_h.select(
        F.col("h").alias("hex_chars"),
        F.expr("CAST(POWER(16, h) AS BIGINT)").alias("m_buckets"),
        zero("n_filter_entries").alias("n_filter_entries"),
        zero("n_pass_keys").alias("n_pass_keys"),
        zero("n_false_pos").alias("n_false_pos"),
        div(zero("n_false_pos") * 1_000_000, F.lit(n_unmatched))
        .cast("long")
        .alias("fp_ppm"),
        F.col("n_missed").isNull().alias("zero_false_neg"),
    ).orderBy("hex_chars")


# ---------------------------------------------------------------------------
# Retrieval evaluation
# ---------------------------------------------------------------------------

#: NDCG cutoff (matches the BM25 top-k pool).
NDCG_K = 20


def _ndcg_oracle() -> str:
    terms = ", ".join(f"'{x}'" for x in BM25_QUERY_TERMS)
    return f"""
    WITH tok AS (
        SELECT doc_id, {_duck_tokens("term")} FROM documents
    ),
    rel AS (
        SELECT doc_id,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS rel
        FROM tok WHERE term IN ({terms}) GROUP BY doc_id
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_len
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE term IN ({terms}) GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               {_duck_bm25_term_e6("tf.tf", "dfreq.df", "dl.dl", "stats.n_docs", "stats.total_len")}
                   AS term_score_e6
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
    ),
    ranking AS (
        SELECT doc_id, CAST(SUM(term_score_e6) AS BIGINT) AS bm25_e6
        FROM scored GROUP BY doc_id
        ORDER BY bm25_e6 DESC, doc_id LIMIT {NDCG_K}
    ),
    sys AS (
        SELECT r.doc_id, rel.rel,
               ROW_NUMBER() OVER (ORDER BY r.bm25_e6 DESC, r.doc_id) AS rnk
        FROM ranking r JOIN rel USING (doc_id)
    ),
    dcg AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   ((POWER(2, rel) - 1) * 1000000.0) * LN(2.0)
                   / LN(CAST(rnk + 1 AS DOUBLE))
               ) AS BIGINT)) AS BIGINT) AS dcg_e6,
               CAST(COUNT(*) AS BIGINT) AS n_ranked
        FROM sys
    ),
    ideal AS (
        SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rnk
        FROM rel ORDER BY rel DESC, doc_id LIMIT {NDCG_K}
    ),
    idcg AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   ((POWER(2, rel) - 1) * 1000000.0) * LN(2.0)
                   / LN(CAST(rnk + 1 AS DOUBLE))
               ) AS BIGINT)) AS BIGINT) AS idcg_e6
        FROM ideal
    )
    SELECT dcg.n_ranked, dcg.dcg_e6, idcg.idcg_e6,
           (dcg.dcg_e6 * 1000000) // idcg.idcg_e6 AS ndcg_e6
    FROM dcg CROSS JOIN idcg
    """


@register(
    "x4_ndcg_eval",
    oracle=_ndcg_oracle(),
    survey_ids=("X4", "W1", "A2", "O4"),
)
def x4_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@20 of the BM25 ranking (``x4_bm25_topk``'s scorer) against
    a deterministic graded relevance — rel(doc) = distinct query terms
    present (0–3). One summary row: ranked count, DCG, ideal DCG, and
    NDCG in e6 fixed point. This is the eval loop every retrieval
    pipeline closes: change the scorer, re-run, compare one number.

    Exactness: per-rank gain terms ``(2^rel − 1)·10⁶·ln2 / ln(r+1)``
    are floored to integers BEFORE summation (the BM25 idiom — SUM of
    BIGINT is order-free); the final NDCG is an integer floor ratio.
    Scale: both global row_numbers run over provably-bounded inputs
    ON THEIR OWN SPINE — the system ranks are assigned on the ≤NDCG_K
    BM25 relation BEFORE the relevance join (every BM25-scored doc
    contains a query term, so the inner join drops no ranked row —
    rank-then-join ≡ join-then-rank here, and the DuckDB oracle
    hash-pins it), and the ideal ranking bounds `rel` with
    orderBy().limit(NDCG_K) (TakeOrderedAndProject) before its window,
    never a corpus-sized window through one task."""
    docs = t(spark, sf_dir, "documents")
    tok = doc_tokens(docs, "doc_id", tk="term")
    rel = (
        tok.filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").cast("long").alias("rel"))
    )
    ranking = x4_bm25_topk(spark, sf_dir).select("doc_id", "bm25_e6")
    w_sys = Window.orderBy(F.desc("bm25_e6"), "doc_id")
    gain = (F.pow(F.lit(2), F.col("rel")) - 1) * 1000000.0
    term = F.floor(
        gain * F.log(F.lit(2.0)) / F.log((F.col("rnk") + 1).cast("double"))
    ).cast("long")
    sys_rows = (
        ranking.withColumn("rnk", F.row_number().over(w_sys))
        .join(rel, "doc_id")
        .select(term.alias("g"))
    )
    dcg = sys_rows.agg(
        F.sum("g").cast("long").alias("dcg_e6"),
        F.count(F.lit(1)).cast("long").alias("n_ranked"),
    )
    w_ideal = Window.orderBy(F.desc("rel"), "doc_id")
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(NDCG_K)
        .withColumn("rnk", F.row_number().over(w_ideal))
        .select(term.alias("g"))
    )
    idcg = ideal.agg(F.sum("g").cast("long").alias("idcg_e6"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            "n_ranked",
            "dcg_e6",
            "idcg_e6",
            div(F.col("dcg_e6") * 1000000, F.col("idcg_e6")).alias("ndcg_e6"),
        )
    )
