"""Round-10 batch 2: training-run layout, lakehouse clustering,
embedding QA, retrieval evaluation, tokenizer application.

- Curriculum shard assignment: the deterministic global ordering +
  round-robin sharding step that turns a curated corpus into training
  shards (quality-first curriculum), using the scale-safe
  ``global_row_number`` (range shuffle, never a single-partition
  window).
- Z-order (Morton) clustering audit: interleave the bits of two
  rank-normalized key columns and report per-bucket key spans — the
  data-skipping quality measure behind Delta/Iceberg ``OPTIMIZE
  ZORDER BY``. Pure integer bit arithmetic spelled as arithmetic
  (div/mod/multiply), identical in both engines.
- Embedding norm audit: per-label vector-quality stats with the
  quantize-then-sum discipline (components floored to e3 integers
  BEFORE the square-sum, so the fold is order-free exact — no float
  accumulation).
- BPE tokenizer APPLICATION: the corpus encoded with the merges the
  trainer (bpe.py) learned — per-source encoded token
  counts and compression, the serving half of tokenizer training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .analytics_ext import global_row_number
from .bpe import BPE_STEPS, _bpe_step_sql, bpe_trainer, corpus_words, vocabulary
from .relational import t
from .textops import STOPWORDS_EN

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS_EN)

#: Curriculum shards (training-file fan-out).
N_SHARDS = 8

#: Z-order grid bits per dimension (256×256 cells) and bucket count.
Z_BITS = 8
Z_BUCKETS_SHIFT = 8  # top 8 of the 16 interleaved bits -> 256 buckets


# ---------------------------------------------------------------------------
# curriculum shards
# ---------------------------------------------------------------------------

@register(
    "x4_curriculum_shards",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    tier AS (
        SELECT doc_id,
               CAST(COUNT(DISTINCT CASE WHEN LOWER(w) IN ({_STOP_SQL})
                                        THEN LOWER(w) END) AS BIGINT) AS tier
        FROM tok GROUP BY doc_id
    ),
    ordered AS (
        SELECT d.doc_id, d.lang, d.n_chars, COALESCE(t.tier, 0) AS tier,
               ROW_NUMBER() OVER (
                   ORDER BY COALESCE(t.tier, 0) DESC, d.n_chars DESC, d.doc_id
               ) AS rn
        FROM documents d LEFT JOIN tier t USING (doc_id)
    )
    SELECT CAST((rn - 1) % {N_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(tier) AS BIGINT) AS sum_tier,
           CAST(MIN(rn) AS BIGINT) AS first_rn,
           CAST(MAX(rn) AS BIGINT) AS last_rn
    FROM ordered
    GROUP BY shard ORDER BY shard
    """,
    survey_ids=("X4", "W1", "A1", "O1"),
)
def x4_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum shard assignment: docs globally ordered by
    (quality tier DESC, length DESC, doc_id) — quality tier = distinct
    stopword hits, the cheap fluency proxy — then dealt round-robin
    into N_SHARDS training shards; output is the per-shard composition
    audit (docs, chars, language spread, tier mass, rank range). The
    round-robin deal guarantees every shard sees the full curriculum
    spectrum (first_rn/last_rn make that visible).

    Scale: the global order comes from :func:`global_row_number` — a
    range shuffle + per-partition rebase, never a single-partition
    window; everything after is one map-combined rollup over
    N_SHARDS keys."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    stop = [w.lower() for w in STOPWORDS_EN]
    tier = tok.groupBy("doc_id").agg(
        F.count_distinct(F.when(F.lower("w").isin(stop), F.lower("w")))
        .cast("long")
        .alias("tier")
    )
    base = docs.join(tier, "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_chars",
        F.coalesce("tier", F.lit(0)).alias("tier"),
    )
    ordered, _n = global_row_number(
        base,
        [F.desc("tier"), F.desc("n_chars"), F.asc("doc_id")],
        rn_col="rn",
    )
    return (
        ordered.groupBy(
            ((F.col("rn") - 1) % N_SHARDS).cast("long").alias("shard")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.count_distinct("lang").cast("long").alias("n_langs"),
            F.sum("tier").cast("long").alias("sum_tier"),
            F.min("rn").cast("long").alias("first_rn"),
            F.max("rn").cast("long").alias("last_rn"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# z-order clustering audit
# ---------------------------------------------------------------------------

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
    cells = keyed.crossJoin(F.broadcast(bounds)).select(
        "ck",
        "dd",
        F.expr(
            f"({1 << Z_BITS} * (ck - ck_min)) div (ck_max - ck_min + 1)"
        ).alias("px"),
        F.expr(
            f"({1 << Z_BITS} * (dd - dd_min)) div (dd_max - dd_min + 1)"
        ).alias("py"),
    )
    morton = _morton_expr("px", "py", "div")
    coded = cells.select(
        "ck",
        "dd",
        F.expr(f"({morton}) div {1 << Z_BUCKETS_SHIFT}").alias("bucket"),
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
# BPE encoding (tokenizer application)
# ---------------------------------------------------------------------------

def _bpe_encode_oracle() -> str:
    steps = "".join("," + _bpe_step_sql(k) for k in range(1, BPE_STEPS + 1))
    return f"""
    WITH docword AS (
        SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents
    ),
    vocab AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount FROM docword
        WHERE word <> '' GROUP BY word
    ),
    s0 AS MATERIALIZED (
        SELECT word, wcount,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(word, ''), 1) AS pos,
               UNNEST(STRING_SPLIT(word, '')) AS sym
        FROM vocab
    )
    {steps},
    enc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n_syms
        FROM s{BPE_STEPS} GROUP BY word
    )
    SELECT dw.source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(LENGTH(dw.word)) AS BIGINT) AS n_chars,
           CAST(SUM(e.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST((SUM(LENGTH(dw.word)) * 1000000) // SUM(e.n_syms) AS BIGINT)
               AS chars_per_token_e6
    FROM docword dw JOIN enc e ON e.word = dw.word
    WHERE dw.word <> ''
    GROUP BY dw.source ORDER BY dw.source
    """


@register(
    "x4_bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    survey_ids=("X4", "W2", "A1", "J1"),
)
def x4_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode the corpus with the merges the
    BPE trainer learned (``x4_bpe_merge_steps`` — same
    vocabulary, same 3 merge rounds) and report per-source encoded
    token counts and compression (chars per BPE token, e6) — the
    serving half of tokenizer training, and the number a data-mixture
    designer actually budgets with (token counts under the REAL
    tokenizer, not whitespace estimates).

    Scale: merges train on the VOCABULARY relation (distinct words —
    heavy-tailed, corpus-size independent) in the one-task trainer of
    ``bpe.py``, which also returns each word's final symbols; encoding
    never touches character state again — each corpus word occurrence
    joins the |vocab|-keyed ``(word, n_syms)`` relation, so the
    corpus-sized path is one broadcast join + one map-combined rollup."""
    docword = corpus_words(t(spark, sf_dir, "documents"), "source")
    enc = bpe_trainer(vocabulary(docword), words=True).select(
        "word", F.size("syms").cast("long").alias("n_syms")
    )
    return (
        docword.join(F.broadcast(enc), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "source",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            F.expr("(n_chars * 1000000) div n_bpe_tokens").alias(
                "chars_per_token_e6"
            ),
        )
        .orderBy("source")
    )
