"""Round-8 exact-surface batch: distributed-exact idioms and SQL
surface parity that a 100 TB engine needs every day.

- Bitmap-exact distinct: COUNT(DISTINCT) without shuffling raw keys —
  the shuffle carries 8-byte bucket masks (user_id DIV 32 buckets,
  bit_or-combined), then SUM(bit_count). Proven against the exact tier
  in the same result row. This is the roaring-bitmap idea spelled in
  pure relational algebra; at 100 TB the shuffle volume is
  |buckets| × 16 bytes instead of |events| × 8.
- try_* error-safe semantics (F3's validation family): try_cast on
  malformed input and division-by-zero as NULL, never a job abort —
  pinned cross-engine (DuckDB's `/` yields NULL on zero, matching
  Spark's try_divide; try_cast exists verbatim in both).
- Hash-function parity (md5 / sha2-256 hex) — the primitives every
  fingerprint/dedup operator in this repo builds on, pinned directly.
- posexplode WITH ORDINALITY parity (DuckDB spells it
  unnest + generate_subscripts) — the ordered-unnest contract that
  sequence packing and chunking rely on.
- MoM/YoY growth over the monthly revenue grid: lag-1 / lag-12
  navigation with e6 fixed-point growth rates; the month grid is
  lattice-bounded (≤ |months| rows) so the window is never a scale
  risk.

Reference parity: all reachable analyses for the reference's NL→SQL
users over its exposed tables (``/root/reference/sample_metadata.py``);
the reference delegates execution to PostgreSQL — here each idiom is a
first-class engine operator with a scale argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .relational import t
from .tokens import ws_split


# ---------------------------------------------------------------------------
# A3/X4: bitmap-exact distinct


@register(
    "a_bitmap_distinct",
    oracle="""
    WITH bits AS (
        SELECT event_type,
               CAST(user_id // 32 AS BIGINT) AS bucket,
               bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS mask
        FROM events
        GROUP BY event_type, CAST(user_id // 32 AS BIGINT)
    ),
    bm AS (
        SELECT event_type, CAST(SUM(bit_count(mask)) AS BIGINT) AS n_bitmap
        FROM bits GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT bm.event_type, bm.n_bitmap, ex.n_exact,
           CAST(bm.n_bitmap = ex.n_exact AS BOOLEAN) AS agree
    FROM bm JOIN ex ON ex.event_type = bm.event_type
    ORDER BY bm.event_type
    """,
    survey_ids=("A3", "A1", "F6"),
)
def a_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via 32-bit bucket bitmaps:
    map each user to (bucket = id DIV 32, bit = id MOD 32), bit_or the
    one-hot masks per (type, bucket) — a map-side-combinable aggregate
    — then SUM(bit_count(mask)). The result row carries both tiers and
    an `agree` verdict, so the hash gate proves bitmap == exact.

    Scale: COUNT(DISTINCT key) shuffles every raw key; the bitmap
    spelling shuffles one 8-byte mask per populated bucket (≤ 1/32 of
    the keys, combined map-side), the same reason roaring bitmaps win
    in warehouse engines. Bit 31 is the highest used, far below the
    63-bit shift overflow boundary both engines share."""
    ev = t(spark, sf_dir, "events")
    bits = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("user_id") / 32).cast("long").alias("bucket"),
        )
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT),"
                " CAST(user_id % 32 AS INT)))"
            ).alias("mask")
        )
    )
    bm = bits.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).cast("long").alias("n_bitmap")
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        bm.join(ex, "event_type")
        .select(
            "event_type",
            "n_bitmap",
            "n_exact",
            (F.col("n_bitmap") == F.col("n_exact")).alias("agree"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# F3/F1: try_* error-safe operations


@register(
    "f_try_error_safe_ops",
    oracle="""
    WITH base AS (
        SELECT event_type,
               try_cast(json_extract_string(props, '$.k') AS INTEGER) AS k,
               try_cast(event_type AS INTEGER) AS bad_int,
               CAST(FLOOR(value * 100) AS BIGINT) AS c2
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(k) AS BIGINT) AS n_k_valid,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(COUNT(bad_int) AS BIGINT) AS n_bad_cast_ok,
           CAST(SUM(CASE WHEN 100.0 * c2 / k IS NULL
                         AND k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_div_by_zero,
           CAST(SUM(CAST(FLOOR(100.0 * c2 / k) AS BIGINT)) AS BIGINT)
               AS sum_ratio_e2
    FROM base
    GROUP BY event_type ORDER BY event_type
    """,
    survey_ids=("F3", "F1", "F8"),
)
def f_try_error_safe_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression semantics, pinned cross-engine: try_cast
    of a malformed string is NULL (never an ANSI abort — `bad_int`
    counts 0 valid casts of a non-numeric column), and division by
    zero under try_divide is NULL (DuckDB's `/` already yields NULL on
    zero, so the oracle spells it directly). `n_div_by_zero` counts
    rows whose k parsed as 0; `sum_ratio_e2` aggregates the surviving
    safe ratios in cents-scale fixed point.

    At 100 TB this is the difference between a poisoned row failing a
    12-hour job at hour 11 and a NULL that flows into the quality
    report: the reference inherits PostgreSQL's strict-error behavior;
    a pipeline engine needs the total variants as first-class."""
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr(
            "try_cast(get_json_object(props, '$.k') AS INT)"
        ).alias("k"),
        F.expr("try_cast(event_type AS INT)").alias("bad_int"),
        F.floor(F.col("value") * 100).cast("long").alias("c2"),
    )
    ratio = F.floor(F.try_divide(100.0 * F.col("c2"), F.col("k"))).cast(
        "long"
    )
    return (
        base.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("k").cast("long").alias("n_k_valid"),
            F.sum("k").cast("long").alias("sum_k"),
            F.count("bad_int").cast("long").alias("n_bad_cast_ok"),
            F.sum(
                F.when(
                    F.try_divide(100.0 * F.col("c2"), F.col("k")).isNull()
                    & F.col("k").isNotNull(),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_div_by_zero"),
            F.sum(ratio).cast("long").alias("sum_ratio_e2"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# F5: hash-function parity


@register(
    "f_hash_functions",
    oracle="""
    SELECT substr(md5(text), 1, 1) AS md5_nibble,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5,
           CAST(SUM(CASE WHEN substr(sha256(text), 1, 1)
                              = substr(md5(text), 1, 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sha_nibble_match,
           MIN(doc_id) AS min_doc_id
    FROM documents
    GROUP BY substr(md5(text), 1, 1)
    ORDER BY md5_nibble
    """,
    survey_ids=("F5", "A3", "X1"),
)
def f_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic-hash parity pinned at the value level: md5 and
    sha2-256 hex digests of document text, bucketed by the first md5
    nibble (16 groups). `n_distinct_md5` is the collision-free doc
    count per bucket; `n_sha_nibble_match` cross-checks the two
    digests against each other (≈1/16 of rows — any hex-casing or
    encoding divergence between engines zeroes or skews it).

    Every fingerprint operator in this repo (exact dedup, shard
    assignment, LSH band hashing, winnowing) builds on these two
    builtins; this query pins their byte-identical behavior directly
    rather than transitively. One map-combined aggregate; digests are
    computed scan-side and never shuffled raw."""
    docs = t(spark, sf_dir, "documents")
    md5 = F.md5(F.col("text").cast("binary"))
    sha = F.sha2(F.col("text").cast("binary"), 256)
    return (
        docs.select(
            F.substring(md5, 1, 1).alias("md5_nibble"),
            md5.alias("h_md5"),
            F.substring(sha, 1, 1).alias("sha_nibble"),
            "doc_id",
        )
        .groupBy("md5_nibble")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("h_md5").cast("long").alias("n_distinct_md5"),
            F.sum(
                F.when(F.col("sha_nibble") == F.col("md5_nibble"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_sha_nibble_match"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("md5_nibble")
    )


# ---------------------------------------------------------------------------
# U1/F5: ordered unnest (posexplode / WITH ORDINALITY)


@register(
    "u_posexplode_ordinality",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS ord
        FROM documents
    )
    SELECT ord,
           CAST(COUNT(*) AS BIGINT) AS n_docs_with_pos,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
           CAST(SUM(length(tok)) AS BIGINT) AS sum_token_len
    FROM toks
    WHERE ord <= 10
    GROUP BY ord ORDER BY ord
    """,
    survey_ids=("U1", "F5", "A1"),
)
def u_posexplode_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered unnest: posexplode attaches the 1-based ordinal to each
    token (the SQL-standard UNNEST ... WITH ORDINALITY; DuckDB spells
    it unnest + generate_subscripts, PostgreSQL-style aligned
    set-returning functions). Profiled over the first 10 positions:
    how many documents reach position i, distinct vocabulary at i,
    total token mass at i — the positional prior a sequence-packing or
    prompt-truncation policy reads.

    The ordinal contract (stable, 1-based, per-row dense) is what
    `x4_sequence_packing` / `x4_chunk_with_overlap` build on; this
    pins it directly at the value level. Explode is scan-side
    (no shuffle until the 10-row-bounded aggregate)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(ws_split()).alias("pos0", "tok"),
    ).select("doc_id", "tok", (F.col("pos0") + 1).alias("ord"))
    return (
        toks.filter(F.col("ord") <= 10)
        .groupBy("ord")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_with_pos"),
            F.countDistinct("tok").cast("long").alias("n_distinct_tokens"),
            F.sum(F.length("tok")).cast("long").alias("sum_token_len"),
        )
        .orderBy("ord")
    )


# ---------------------------------------------------------------------------
# F4/W2/F6: MoM / YoY growth on the monthly grid


@register(
    "f_yoy_mom_growth",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c2
        FROM orders
        GROUP BY date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
    ),
    nav AS (
        SELECT month, rev_c2,
               LAG(rev_c2, 1) OVER (ORDER BY month) AS prev_c2,
               LAG(rev_c2, 12) OVER (ORDER BY month) AS yoy_c2
        FROM monthly
    )
    SELECT month, rev_c2,
           CAST(FLOOR(1000000.0 * (rev_c2 - prev_c2) / prev_c2) AS BIGINT)
               AS mom_growth_e6,
           CAST(FLOOR(1000000.0 * (rev_c2 - yoy_c2) / yoy_c2) AS BIGINT)
               AS yoy_growth_e6
    FROM nav ORDER BY month
    """,
    survey_ids=("F4", "W2", "F6"),
)
def f_yoy_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth: monthly
    cents rollup (one full-data pass), then lag-1 and lag-12
    navigation over the month grid with e6 fixed-point growth rates;
    the first 1 / 12 months carry NULLs (pinned), never a shortened
    comparison. The orders fixture spans 1995–2001, so the lag-12 path
    is exercised on real offsets, not just NULLs.

    Scale: the window runs on the |months|-bounded grid (≤ ~10³ rows
    for decades of data) — the documented lattice-bounded class; the
    full-data pass is the rollup, which map-side combines."""
    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp")).alias(
            "month"
        )
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_c2")
    )
    w = Window.orderBy("month")
    nav = monthly.select(
        "month",
        "rev_c2",
        F.lag("rev_c2", 1).over(w).alias("prev_c2"),
        F.lag("rev_c2", 12).over(w).alias("yoy_c2"),
    )
    growth = lambda cur, base: F.floor(  # noqa: E731
        1000000.0 * (F.col(cur) - F.col(base)) / F.col(base)
    ).cast("long")
    return nav.select(
        "month",
        "rev_c2",
        growth("rev_c2", "prev_c2").alias("mom_growth_e6"),
        growth("rev_c2", "yoy_c2").alias("yoy_growth_e6"),
    ).orderBy("month")

