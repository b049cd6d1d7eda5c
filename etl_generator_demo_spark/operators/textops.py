"""Text analysis — SURVEY.md §2.12 X4 ([EXT]).

Everything is built-in-function (JVM/codegen) work over `documents`:
token counting (whitespace + BPE-ish regex), quality scoring
(length/stopword/diversity ratios), document fingerprinting (content
hash + min-shingle winnowing), language identification (stopword-
profile heuristic). No Python UDFs — at 100 TB these run as one scan,
one optional groupBy.

The fixture corpus is same-vocabulary word soup, so its `lang` column
is a label, not a property of the text; `lang_id_expr` is therefore
unit-tested on real multilingual snippets (tests/test_textops.py)
while the driver queries verify the deterministic computations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.dedup import doc_shingles
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register

#: Tiny per-language stopword profiles for the n-gram/stopword
#: heuristic language identifier. Deliberately small: lang-ID at scale
#: is a scan-side scoring expression, not a model lookup.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un", "por", "con"),
    "de": ("der", "die", "und", "das", "nicht", "ist", "von", "mit", "den", "ein"),
    "fr": ("le", "la", "les", "de", "et", "est", "que", "dans", "pour", "une"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}

STOPWORDS_EN = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, r"\s+")


def lang_score_expr(text_col: str, lang: str) -> Column:
    """Count of profile stopwords present in the text's token set."""
    toks = F.array_distinct(_tokens(F.lower(F.col(text_col))))
    profile = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
    return F.size(F.array_intersect(toks, profile))


def lang_id_expr(text_col: str) -> Column:
    """Predicted language = argmax stopword-profile hits, 'und' when no
    profile matches. Pure expression — language ID for a 100 TB corpus
    is a single scan with no shuffle."""
    scores = [(lang, lang_score_expr(text_col, lang)) for lang in LANG_PROFILES]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so earlier profiles win ties deterministically
    for lang, s in reversed(scores):
        out = F.when((s == best) & (best > 0), lang).otherwise(out)
    return out


def quality_score_expr(text_col: str) -> Column:
    """Heuristic quality in [0,1]: rewards moderate length, vocabulary
    diversity, and a sane stopword rate — the standard cheap pre-filter
    before expensive pipeline stages (C4/Gopher-style rules)."""
    toks = _tokens(text_col)
    n = F.size(toks)
    diversity = F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))
    stop = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    stop_ratio = F.size(F.array_intersect(F.array_distinct(toks), stop)) / F.lit(
        float(len(STOPWORDS_EN))
    )
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    # floor-truncate (not round): bit-identical across engines, so the
    # DuckDB oracle can hash the value exactly
    return F.floor((diversity + stop_ratio + len_score) / 3 * 10000) / 10000


# ===========================================================================
# Driver-checkable queries
# ===========================================================================

@register(
    "x4_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)                 AS n_tokens,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT)  AS n_distinct_tokens,
           CAST(LENGTH(text) AS BIGINT)                                 AS n_chars,
           FLOOR(CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')) * 10000) / 10000        AS diversity
    FROM documents
    ORDER BY doc_id
    """,
    survey_ids=("X4",),
)
def x4_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (whitespace tokenization)."""
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        (F.floor(n_distinct.cast("double") / n_tokens * 10000) / 10000).alias("diversity"),
    ).orderBy("doc_id")


@register(
    "x4_token_estimates",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)                    AS ws_tokens,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z0-9]+')) AS BIGINT)      AS word_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT)                        AS bpe_estimate
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
    survey_ids=("X4",),
)
def x4_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, regex word tokens, and the
    chars/4 BPE heuristic used for LLM budget estimates."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0))
        .cast("long")
        .alias("word_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("bpe_estimate"),
    ).orderBy("doc_id")


@register(
    "x4_lang_source_rollup",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           FLOOR(AVG(CAST(n_chars AS DOUBLE)) * 100) / 100 AS avg_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    survey_ids=("X4", "A1"),
)
def x4_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by language and source."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (F.floor(F.avg(F.col("n_chars").cast("double")) * 100) / 100).alias("avg_chars"),
        )
        .orderBy("lang", "source")
    )


@register(
    "x4_fingerprints",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               tk || '_' || LEAD(tk, 1) OVER w || '_' || LEAD(tk, 2) OVER w
                  || '_' || LEAD(tk, 3) OVER w || '_' || LEAD(tk, 4) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    winnow AS (
        SELECT doc_id, MIN(MD5(shingle)) AS min_shingle_fp
        FROM sh WHERE shingle IS NOT NULL GROUP BY doc_id
    )
    SELECT d.doc_id,
           MD5(d.text) AS content_fp,
           w.min_shingle_fp
    FROM documents d JOIN winnow w ON w.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    survey_ids=("X4", "X1"),
)
def x4_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact content hash + winnowing-style
    min-shingle hash (stable under small edits elsewhere in the doc).
    Shingles served from the persisted store."""
    from etl_generator_demo_spark.operators.dedup import corpus_shingles

    docs = t(spark, sf_dir, "documents")
    winnow = (
        corpus_shingles(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.min(F.md5("shingle")).alias("min_shingle_fp"))
    )
    return (
        docs.select("doc_id", F.md5("text").alias("content_fp"))
        .join(winnow, "doc_id")
        .orderBy("doc_id")
    )


#: Per-language sampling rates for the stratified tier, expressed as
#: 4096-bucket hex thresholds (first 3 md5 hex chars < threshold):
#: identical arithmetic-free comparison in Spark and DuckDB.
SAMPLE_LANG_THRESHOLDS: dict[str, tuple[float, str]] = {
    "en": (0.20, "333"),  # 819/4096 = 19.995%
    "es": (0.10, "19a"),  # 410/4096 = 10.010%
    "de": (0.10, "19a"),
    "fr": (0.10, "19a"),
    "zh": (0.05, "0cd"),  # 205/4096 =  5.005%
}


def _sample_lang_case_sql() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN '{thr}'"
        for lang, (_, thr) in SAMPLE_LANG_THRESHOLDS.items()
    )
    return f"CASE lang {cases} ELSE '000' END"


@register(
    "x4_sample_docs",
    oracle=f"""
    WITH uniform AS (
        SELECT doc_id, 'uniform' AS stratum
        FROM documents
        WHERE SUBSTR(MD5('u:' || CAST(doc_id AS VARCHAR)), 1, 3) < '19a'
    ),
    by_lang AS (
        SELECT doc_id, 'lang:' || lang AS stratum
        FROM documents
        WHERE SUBSTR(MD5('s:' || CAST(doc_id AS VARCHAR)), 1, 3)
              < ({_sample_lang_case_sql()})
    )
    SELECT doc_id, stratum FROM uniform
    UNION ALL
    SELECT doc_id, stratum FROM by_lang
    ORDER BY stratum, doc_id
    """,
    survey_ids=("X4",),
)
def x4_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus down-sampling (~10% uniform) + per-language stratified
    sampling — the standard data-mixture step in training pipelines —
    via DETERMINISTIC HASH GATES (first 3 md5 hex chars of a salted
    doc_id against a 4096-bucket threshold) rather than seeded RNG:
    ``df.sample(seed=...)`` draws per-partition, so its output changes
    whenever the input layout changes — unacceptable for reproducible
    corpus curation at 100 TB. Hash gating is layout-independent,
    stable under corpus growth (a doc never flips in/out when new docs
    arrive), cross-engine reproducible (exact DuckDB oracle, not just
    a tolerance check), and pure scan-side work with no shuffle. The
    'u:'/'s:' salts decorrelate the uniform and stratified tiers."""
    docs = t(spark, sf_dir, "documents")

    def gate(salt: str) -> Column:
        return F.substring(
            F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 3
        )

    uniform = docs.filter(gate("u:") < "19a").select(
        "doc_id", F.lit("uniform").alias("stratum")
    )
    thr = F.lit("000")
    for lang, (_, hex_thr) in reversed(SAMPLE_LANG_THRESHOLDS.items()):
        thr = F.when(F.col("lang") == lang, hex_thr).otherwise(thr)
    by_lang = docs.filter(gate("s:") < thr).select(
        "doc_id", F.concat(F.lit("lang:"), F.col("lang")).alias("stratum")
    )
    return uniform.unionByName(by_lang).orderBy("stratum", "doc_id")


def _quality_and_lang_oracle() -> str:
    """DuckDB translation of quality_score_expr + lang_id_expr — the
    heuristics are deterministic built-in-function arithmetic, so the
    oracle recomputes them exactly (list ops + IEEE doubles agree
    bit-for-bit when the expression shape matches)."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    score = {
        lang: (
            "LEN(LIST_INTERSECT(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(text),"
            " '\\s+')), ["
            + ", ".join(f"'{w}'" for w in words)
            + "]))"
        )
        for lang, words in LANG_PROFILES.items()
    }
    best = "GREATEST(" + ", ".join(score[l] for l in LANG_PROFILES) + ")"
    lang_case = " ".join(
        f"WHEN {score[lang]} = {best} THEN '{lang}'" for lang in LANG_PROFILES
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, text, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS tk
        FROM documents
    )
    SELECT doc_id,
           FLOOR((
               CAST(LEN(LIST_DISTINCT(tk)) AS DOUBLE) / GREATEST(LEN(tk), 1)
             + CAST(LEN(LIST_INTERSECT(LIST_DISTINCT(tk), [{stop_list}])) AS DOUBLE)
               / {float(len(STOPWORDS_EN))}
             + LEAST(LEN(tk) / 100.0, 1.0)
           ) / 3 * 10000) / 10000 AS quality,
           CASE WHEN {best} = 0 THEN 'und' {lang_case} ELSE 'und' END
               AS predicted_lang
    FROM toks
    ORDER BY doc_id
    """


@register(
    "x4_quality_and_lang", oracle=_quality_and_lang_oracle(), survey_ids=("X4",)
)
def x4_quality_and_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score + heuristic lang-ID per document. Both heuristics
    are pure scan-side expression arithmetic, so the DuckDB oracle
    recomputes them exactly — floor-truncated scores and the same
    first-profile-wins tie order. Multilingual behavior of the lang-ID
    is additionally pinned on real snippets in tests/test_textops.py
    (the fixture corpus is same-vocabulary word soup)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        quality_score_expr("text").alias("quality"),
        lang_id_expr("text").alias("predicted_lang"),
    ).orderBy("doc_id")


#: PII patterns shared by the Spark expression and the DuckDB oracle —
#: restricted to syntax Java regex and RE2 interpret identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def redact_pii_expr(text_col: str | Column) -> Column:
    """Replace every PII match with a typed placeholder ([EMAIL] etc.).
    Pure scan-side regexp_replace chain — the cheap pre-training scrub
    pass; at 100 TB this is one map-only stage, no shuffle."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"[{kind.upper()}]")
    return c


@register(
    "x4_pii_scrub",
    oracle="""
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '\\+?[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}')) AS BIGINT)          AS n_phone,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
           MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\\+?[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}', '[PHONE]', 'g'),
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '[IPV4]', 'g')) AS clean_fp
    FROM documents
    ORDER BY doc_id
    """,
    survey_ids=("X4",),
)
def x4_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: per-doc match counts + fingerprint of the
    redacted text (the fingerprint keeps the compare row narrow while
    still pinning every replaced byte). The fixture corpus contains no
    PII — planted-PII redaction behavior is pinned in
    tests/test_textops.py; this query proves the scan-side plan and
    cross-engine regex parity."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_PATTERNS["email"])).cast("long").alias("n_email"),
        F.regexp_count("text", F.lit(PII_PATTERNS["phone"])).cast("long").alias("n_phone"),
        F.regexp_count("text", F.lit(PII_PATTERNS["ipv4"])).cast("long").alias("n_ipv4"),
        F.md5(redact_pii_expr("text")).alias("clean_fp"),
    ).orderBy("doc_id")


@register(
    "x4_repetition_scores",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               tk || '_' || LEAD(tk, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM tok
    ),
    counts AS (
        SELECT doc_id, bigram, COUNT(*) AS c
        FROM bg WHERE bigram IS NOT NULL
        GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           MAX(c)                                   AS top_bigram_n,
           CAST(SUM(c) AS BIGINT)                   AS n_bigrams,
           FLOOR(MAX(c) * 10000.0 / SUM(c)) / 10000 AS top_bigram_frac,
           MAX(c) * 20 > SUM(c)                     AS is_repetitive
    FROM counts
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    survey_ids=("X4",),
)
def x4_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: fraction of bigrams taken by the
    most common bigram; >5% flags boilerplate/degenerate text. The
    explode + two-level groupBy is the distributed shape — per-doc
    partial counts combine map-side, nothing is ever all-pairs."""
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    counts = (
        docs.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
        .select(
            "doc_id",
            "top_bigram_n",
            "n_bigrams",
            (F.floor(F.col("top_bigram_n") * 10000.0 / F.col("n_bigrams")) / 10000).alias(
                "top_bigram_frac"
            ),
            (F.col("top_bigram_n") * 20 > F.col("n_bigrams")).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


@register(
    "x4_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM tok GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df
        FROM tok GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               FLOOR(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df) * 1000000) / 1000000
                   AS tfidf
        FROM tf JOIN df USING (term), n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        FROM scored
    )
    SELECT doc_id, term, tfidf, rk
    FROM ranked
    WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
    survey_ids=("X4",),
)
def x4_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Distributed shape: term
    frequencies and document frequencies are two groupBys with
    map-side combine; the document-count scalar broadcasts; ranking is
    one window shuffle on doc_id. Scores are floor-scaled to 1e-6 and
    ranked on the SCALED value (term as tiebreak) so both engines rank
    identical keys despite summation-order float wobble."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar: one job, broadcast as a literal
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        (F.floor(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6) / 1e6).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


@register(
    "x4_profile_documents",
    oracle="""
    SELECT 'doc_id' AS column_name,
           COUNT(*) - COUNT(doc_id)          AS n_nulls,
           COUNT(DISTINCT doc_id)            AS n_distinct,
           CAST(MIN(doc_id) AS VARCHAR)      AS min_value,
           CAST(MAX(doc_id) AS VARCHAR)      AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
           MIN(lang), MAX(lang) FROM documents
    UNION ALL
    SELECT 'source', COUNT(*) - COUNT(source), COUNT(DISTINCT source),
           MIN(source), MAX(source) FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
           CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
    FROM documents
    ORDER BY column_name
    """,
    survey_ids=("X4", "S5"),
)
def x4_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report (the ETL 'describe my table' op): one
    output row per column with null count, exact distinct count, and
    min/max rendered as strings. ONE pass over the table — all column
    aggregates run in a single Aggregate operator, then the wide row
    is melted; at 100 TB swap exact distincts for approx_count_distinct
    (same shape, one pass, bounded memory)."""
    docs = t(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_nulls"),
            F.count_distinct(c).alias(f"{c}__n_distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n_nulls, {c}__n_distinct, {c}__min, {c}__max" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    ).orderBy("column_name")


@register(
    "x4_heavy_hitter_tokens",
    oracle="""
    SELECT tk AS token, COUNT(*) AS n
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tk FROM documents)
    GROUP BY tk
    ORDER BY n DESC, token
    LIMIT 20
    """,
    survey_ids=("X4",),
)
def x4_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 tokens (vocabulary heavy hitters — the input
    to stopword lists and tokenizer audits): explode → groupBy with
    map-side combine → TakeOrderedAndProject; only 20 rows cross the
    final stage. At 100 TB the same plan holds — partial counts bound
    the shuffle to the vocabulary size, not the corpus."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@register(
    "x4_balanced_sample_per_lang",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, lang, rk
    FROM ranked
    WHERE rk <= 20
    ORDER BY lang, rk
    """,
    survey_ids=("X4",),
)
def x4_balanced_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group sampling (k=20 per language): rank by the
    md5 of the id (deterministic pseudo-random, growth-stable ORDER —
    unlike reservoir sampling, re-runs and engines agree exactly) and
    keep the first k. One window shuffle on the group key; the
    balanced-eval-set idiom."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 20)
        .orderBy("lang", "rk")
    )


@register(
    "x4_token_length_histogram",
    oracle="""
    SELECT CAST(FLOOR(LEN(STRING_SPLIT(text, ' ')) / 25) AS BIGINT) AS bin,
           CAST(FLOOR(LEN(STRING_SPLIT(text, ' ')) / 25) AS BIGINT) * 25 AS bin_lo,
           COUNT(*) AS n_docs,
           MIN(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) AS min_tokens,
           MAX(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) AS max_tokens
    FROM documents
    GROUP BY 1, 2
    ORDER BY bin
    """,
    survey_ids=("X4",),
)
def x4_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in fixed 25-token bins (the corpus
    length profile that picks packing capacity and length filters):
    fixed-width binning needs no global min/max pass, so the whole
    histogram is ONE map-combined groupBy over the scan."""
    docs = t(spark, sf_dir, "documents")
    n = F.size(F.split("text", " ")).cast("long")
    bin_col = F.floor(n / 25).cast("long")
    return (
        docs.select(n.alias("n_tokens"), bin_col.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .select(
            "bin", (F.col("bin") * 25).alias("bin_lo"), "n_docs", "min_tokens", "max_tokens"
        )
        .orderBy("bin")
    )


@register(
    "x4_bigram_lm_quality",
    oracle="""
    WITH """
    + (_BIGRAM_PERDOC_CHAIN := """tok AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    big AS (
        SELECT doc_id, tk,
               LEAD(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM tok
    ),
    bigrams AS (SELECT doc_id, tk, nxt FROM big WHERE nxt IS NOT NULL),
    c_bigram AS (
        SELECT tk, nxt, COUNT(*) AS cb FROM bigrams GROUP BY tk, nxt
    ),
    c_prefix AS (
        SELECT tk, COUNT(*) AS cp FROM bigrams GROUP BY tk
    ),
    scored AS (
        SELECT b.doc_id,
               LN(cb * 1.0 / cp) AS lp
        FROM bigrams b
        JOIN c_bigram cb ON cb.tk = b.tk AND cb.nxt = b.nxt
        JOIN c_prefix cp ON cp.tk = b.tk
    ),
    per_doc AS (
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               FLOOR(AVG(lp) * 10000) / 10000 AS avg_logprob
        FROM scored GROUP BY doc_id
    )""")
    + """
    SELECT doc_id, n_bigrams, avg_logprob,
           avg_logprob < -3.9 AS low_quality
    FROM per_doc
    ORDER BY doc_id
    """,
    survey_ids=("X4",),
)
def x4_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality score (perplexity proxy): train corpus
    bigram MLE counts in-plan, score every document by its mean bigram
    log-probability ln(c(a,b)/c(a·)), flag the improbable tail — the
    classic cheap quality gate between heuristics and a neural scorer.
    No smoothing needed: every scored bigram is in the counts by
    construction (cb, cp >= 1). Plan: one doc_id-partitioned window
    for adjacency, two map-combined count aggregates (vocab-bounded
    relations), two co-keyed joins back, one per-doc aggregate —
    linear scans + vocab²-bounded intermediates; nothing pairwise,
    nothing collected. Score floor-scaled at 1e-4 (mean of logs is
    summation-order sensitive at ~1e-15; the coarse grid absorbs it),
    and the low_quality flag thresholds the FLOORED value so the
    boundary is engine-identical."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tk"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        tok.withColumn("nxt", F.lead("tk").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", "tk", "nxt")
    )
    c_bigram = bigrams.groupBy("tk", "nxt").agg(F.count(F.lit(1)).alias("cb"))
    c_prefix = bigrams.groupBy("tk").agg(F.count(F.lit(1)).alias("cp"))
    scored = (
        bigrams.join(c_bigram, ["tk", "nxt"])
        .join(c_prefix, "tk")
        .select("doc_id", F.log(F.col("cb") * 1.0 / F.col("cp")).alias("lp"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.floor(F.avg("lp") * 10000) / 10000).alias("avg_logprob"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        (F.col("avg_logprob") < -3.9).alias("low_quality"),
    ).orderBy("doc_id")


#: Quality-gate thresholds swept (mean bigram log-prob; the committed
#: production flag in x4_bigram_lm_quality cuts at -3.9).
QUALITY_SWEEP_TAUS = (-3.5, -3.9, -4.3)


def _quality_sweep_oracle() -> str:
    rows = []
    for tau in QUALITY_SWEEP_TAUS:
        rows.append(f"""
    SELECT CAST({int(tau * 10)} AS BIGINT) AS tau_e1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_doc) AS n_scored,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_doc
            WHERE avg_logprob >= {tau}) AS n_kept,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_doc
            WHERE avg_logprob >= {tau}) * 1000000
             // (SELECT COUNT(*) FROM per_doc) AS keep_rate_e6""")
    return f"""
    WITH {_BIGRAM_PERDOC_CHAIN}
    SELECT * FROM ({" UNION ALL ".join(rows)})
    ORDER BY tau_e1 DESC
    """


@register(
    "x4_quality_threshold_sweep",
    oracle=_quality_sweep_oracle(),
    survey_ids=("X4", "A2", "P6"),
)
def x4_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keep-rate at LM quality-gate thresholds -3.5/-3.9/-4.3
    (mean bigram log-prob) — the tuning curve for the cheapest quality
    cut, beside the band/Jaccard/n_probe/decontamination sweeps: each
    pipeline knob ships with a measured curve, not a folklore constant.
    The committed production flag (`x4_bigram_lm_quality`) cuts at
    -3.9 — this shows what loosening/tightening by 0.4 nats releases.

    Exactness: scores are on the scorer's 1e-4 floor grid and the
    threshold literals parse to identical doubles in both engines (the
    established `low_quality` comparison); keep rates are integer
    floor ratios, NULL on an empty corpus (nothing scored). Scale: the
    score relation is computed once (localCheckpoint) and the whole
    sweep is ONE aggregate over docs — a count plus one conditional
    count per threshold — unpivoted into a row per threshold."""
    per_doc = (
        x4_bigram_lm_quality(spark, sf_dir)
        .select("doc_id", "avg_logprob")
        .localCheckpoint(eager=True)
    )
    counts = per_doc.agg(
        F.count(F.lit(1)).alias("n_scored"),
        *[
            F.count(F.when(F.col("avg_logprob") >= tau, 1)).alias(f"k{i}")
            for i, tau in enumerate(QUALITY_SWEEP_TAUS)
        ],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(tau * 10)).cast("long").alias("tau_e1"),
                    F.col(f"k{i}").alias("n_kept"),
                )
                for i, tau in enumerate(QUALITY_SWEEP_TAUS)
            ]
        )
    )
    return (
        counts.select("n_scored", rows.alias("r"))
        .select(
            "r.tau_e1",
            "n_scored",
            "r.n_kept",
            F.expr("r.n_kept * 1000000 div nullif(n_scored, 0)").alias("keep_rate_e6"),
        )
        .orderBy(F.desc("tau_e1"))
    )


WINNOW_K, WINNOW_W = 5, 4  # k-gram size, winnowing window


@register(
    "x4_winnowing_fingerprints",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    kg AS (
        SELECT doc_id, pos,
               MD5(tk || '_' || LEAD(tk, 1) OVER w || '_' || LEAD(tk, 2) OVER w
                   || '_' || LEAD(tk, 3) OVER w || '_' || LEAD(tk, 4) OVER w) AS h
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    hashes AS (
        SELECT doc_id, pos, h,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_kgrams
        FROM kg WHERE h IS NOT NULL
    ),
    wins AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
                   AS fp,
               pos, n_kgrams
        FROM hashes
    )
    SELECT DISTINCT doc_id, fp
    FROM wins
    WHERE pos <= n_kgrams - {WINNOW_W} + 1
    ORDER BY doc_id, fp
    """,
    survey_ids=("X4",),
)
def x4_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every 5-token k-gram, slide a window of 4
    consecutive hashes, keep each window's minimum — guaranteeing any
    shared run of >= k+w-1 tokens between two documents shares a
    selected fingerprint, at ~2/(w+1) the density of keeping every
    hash. The selection the plagiarism/near-dup index stores instead
    of all k-grams. Plan: one doc_id-partitioned window pass for
    adjacency + one for the sliding min, distinct over the selected
    set — a single shuffle on doc_id; at 100 TB the fingerprint index
    is ~40% the size of the full k-gram relation."""
    return winnowing_fingerprints(t(spark, sf_dir, "documents")).orderBy("doc_id", "fp")


def winnowing_fingerprints(d: DataFrame) -> DataFrame:
    """Library form over any (doc_id, text) relation: the distinct
    winnowing-selected (doc_id, fp) fingerprint set."""
    from pyspark.sql import Window

    tok = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tk"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    kgram = F.concat_ws(
        "_", F.col("tk"), *[F.lead("tk", i).over(w) for i in range(1, WINNOW_K)]
    )
    # concat_ws skips NULLs, so tail positions would yield short grams:
    # gate on the furthest lead instead
    kg = tok.select(
        "doc_id",
        "pos",
        F.when(F.lead("tk", WINNOW_K - 1).over(w).isNotNull(), F.md5(kgram)).alias("h"),
    ).filter(F.col("h").isNotNull())
    n = Window.partitionBy("doc_id")
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    wins = kg.select(
        "doc_id",
        "pos",
        F.count(F.lit(1)).over(n).alias("n_kgrams"),
        F.min("h").over(win).alias("fp"),
    )
    return (
        # posexplode is 0-based (DuckDB subscripts are 1-based, hence
        # the oracle's `- w + 1`): full windows start at pos <= n - w
        wins.filter(F.col("pos") <= F.col("n_kgrams") - WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Corpus diagnostics: Zipf slope of the vocabulary
# ---------------------------------------------------------------------------
ZIPF_TOP_TERMS = 1000


@register(
    "x4_zipf_slope",
    oracle=f"""
    WITH freq AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tk FROM documents)
        GROUP BY tk
    ),
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
    milli-units BEFORE the regression sums, so n/Σx/Σy/Σxy/Σxx are
    exact BIGINTs (magnitudes ≤ ~2·10¹⁴ — exact in double too); the
    slope is then ONE identically-shaped float division. Aggregation
    order cannot move the result.

    Scale: term frequencies are one map-combined groupBy; the head is
    bounded FIRST via orderBy().limit() (TakeOrderedAndProject — a
    per-partition top-N, no global sort), so the ranking window runs
    over at most {ZIPF_TOP_TERMS} rows instead of the full vocabulary.
    The r12 spelling windowed the unbounded vocabulary relation
    (WindowExec with no partition spec — single-partition sort of
    every distinct token); at web scale that is a 10⁹-row
    single-task sort. Bounded-head spelling per surfaces_r12.py
    x4_zipf_alpha_fit."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tk"))
        .groupBy("tk")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .orderBy(F.desc("f"), "tk")
        .limit(ZIPF_TOP_TERMS)
    )
    ranked = freq.select(
        "f", F.row_number().over(Window.orderBy(F.desc("f"), "tk")).alias("rnk")
    )
    pts = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * 1000).cast("long").alias("x"),
        F.floor(F.log(F.col("f").cast("double")) * 1000).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            * 1000000
        )
        .cast("long")
        .alias("slope_e6"),
    )


# ---------------------------------------------------------------------------
# CCNet-style per-language quality buckets over the bigram-LM score
# ---------------------------------------------------------------------------
@register(
    "x4_quality_buckets",
    oracle="""
    WITH """
    + _BIGRAM_PERDOC_CHAIN
    + """,
    lang_scored AS (
        SELECT d.lang, p.doc_id, p.avg_logprob
        FROM per_doc p JOIN documents d USING (doc_id)
    ),
    bucketed AS (
        SELECT lang, avg_logprob,
               NTILE(3) OVER (PARTITION BY lang
                              ORDER BY avg_logprob DESC, doc_id) AS bucket
        FROM lang_scored
    )
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(avg_logprob) AS worst_score,
           MAX(avg_logprob) AS best_score
    FROM bucketed
    GROUP BY lang, bucket
    ORDER BY lang, bucket
    """,
    survey_ids=("X4", "W1"),
)
def x4_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality split (Wenzek et al. 2020):
    rank documents per language by the bigram-LM score and NTILE them
    into three equal buckets — bucket 1 = head (highest quality). The
    downstream pipeline trains on head+middle and discards or
    re-filters the tail. Reuses the x4_bigram_lm_quality scoring chain
    verbatim (shared SQL constant), adds one lang join + one ranked
    window over per-doc rows + the rollup.

    Determinism: NTILE runs over (floored score, doc_id) — a total
    order — and bucket counts/extremes aggregate the already-floored
    scores, so no new float surface is introduced."""
    from pyspark.sql import Window

    scores = x4_bigram_lm_quality(spark, sf_dir).select("doc_id", "avg_logprob")
    langs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.desc("avg_logprob"), "doc_id")
    return (
        scores.join(langs, "doc_id")
        .withColumn("bucket", F.ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("avg_logprob").alias("worst_score"),
            F.max("avg_logprob").alias("best_score"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters — the third mergeable sketch next to
# HLL (a_approx_distinct) and KLL (a_percentiles_approx)
# ---------------------------------------------------------------------------
CMS_DEPTH = 4      # independent hash rows
CMS_WIDTH_HEX = 2  # bucket id = first 2 md5 hex chars -> 256 buckets


@register(
    "x4_heavy_hitters_cms",
    oracle=f"""
    WITH tok AS (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tk FROM documents
    ),
    rb AS (
        SELECT tk, r.r AS r,
               SUBSTR(MD5('cms' || r.r || '|' || tk), 1, {CMS_WIDTH_HEX}) AS bucket
        FROM tok CROSS JOIN range(0, {CMS_DEPTH}) AS r(r)
    ),
    sketch AS (
        SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM rb GROUP BY r, bucket
    ),
    true_top AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM tok GROUP BY tk
        ORDER BY true_n DESC, tk LIMIT 20
    ),
    est AS (
        SELECT t.tk, t.true_n, CAST(MIN(s.c) AS BIGINT) AS cms_n
        FROM true_top t
        CROSS JOIN range(0, {CMS_DEPTH}) AS r(r)
        JOIN sketch s
          ON s.r = r.r
         AND s.bucket = SUBSTR(MD5('cms' || r.r || '|' || t.tk), 1, {CMS_WIDTH_HEX})
        GROUP BY t.tk, t.true_n
    )
    SELECT tk AS token, true_n, cms_n,
           cms_n >= true_n  AS never_underestimates,
           cms_n - true_n   AS overcount
    FROM est
    ORDER BY true_n DESC, token
    """,
    survey_ids=("X4", "A3"),
)
def x4_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    estimates as a bounded-error verdict: the exact top-20 token
    counts (hash-verified value-for-value) next to the sketch's
    estimate, its guaranteed-nonnegative overcount, and the
    never-underestimates invariant — computed, not asserted, in BOTH
    engines, so the flags hash no matter what the collisions do.

    The sketch is {CMS_DEPTH}×{16 ** CMS_WIDTH_HEX} BIGINT counters —
    CONSTANT memory however large the token stream — built in one
    map-side fan-out ({CMS_DEPTH} (row, bucket) emissions per token,
    md5-derived buckets identical in both engines) + one map-combined
    groupBy. Estimates probe the broadcast sketch. At 100 TB you keep
    ONLY the sketch and candidate tokens; the exact side exists here
    because the verdict needs ground truth (same pattern as the ANN
    recall verdicts)."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("tk"))

    def bucket(r, col):
        return F.substring(
            F.md5(F.concat(F.lit(f"cms{r}|"), col)), 1, CMS_WIDTH_HEX
        )

    fanout = F.array(
        *[
            F.struct(F.lit(r).cast("long").alias("r"), bucket(r, F.col("tk")).alias("bucket"))
            for r in range(CMS_DEPTH)
        ]
    )
    sketch = (
        tok.select(F.explode(fanout).alias("rb"))
        .groupBy("rb.r", "rb.bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(F.col("r"), F.col("bucket"), "c")
    )
    true_top = (
        tok.groupBy("tk")
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
        .orderBy(F.desc("true_n"), "tk")
        .limit(20)
    )
    probes = true_top.select(
        "tk",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("long").alias("r"),
                        bucket(r, F.col("tk")).alias("bucket"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select("tk", "true_n", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("tk", "true_n")
        .agg(F.min("c").cast("long").alias("cms_n"))
    )
    return est.select(
        F.col("tk").alias("token"),
        "true_n",
        "cms_n",
        (F.col("cms_n") >= F.col("true_n")).alias("never_underestimates"),
        (F.col("cms_n") - F.col("true_n")).alias("overcount"),
    ).orderBy(F.desc("true_n"), "token")


@register(
    "x4_vocab_growth",
    oracle="""
    WITH firsts AS (
        SELECT tk, MIN(doc_id) AS first_doc
        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tk FROM documents)
        GROUP BY tk
    ),
    b AS (
        SELECT CAST(first_doc // 50 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_new_tokens
        FROM firsts GROUP BY 1
    )
    SELECT bucket, n_new_tokens,
           CAST(SUM(n_new_tokens) OVER (ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
    FROM b
    ORDER BY bucket
    """,
    survey_ids=("X4", "W3"),
)
def x4_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: new-token count per 50-doc
    ingest bucket plus the running vocabulary size. A flattening curve
    says more data is re-treading the same vocabulary (diminishing
    lexical returns); a linear one says the corpus is still diverse —
    the cheap signal for when to stop crawling a source. Token first
    occurrences are one map-combined groupBy (vocabulary-sized
    output); the cumulative sum is a window over the bucket relation
    only."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    firsts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
        .groupBy("tk")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    b = (
        firsts.groupBy(F.floor(F.col("first_doc") / 50).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_tokens"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return b.select(
        "bucket",
        "n_new_tokens",
        F.sum("n_new_tokens").over(w).cast("long").alias("vocab_size"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, arXiv:2302.03169):
# score each document by how target-like its hashed n-gram feature
# distribution is — the data-selection weight used to resample a raw
# corpus toward a high-quality target domain.
# ---------------------------------------------------------------------------
DSIR_BUCKETS = 256  # hashed-bigram feature space (2 hex chars of md5)
DSIR_TARGET_LANG = "en"

#: Shared CTE chain ending at `imp(doc_id, importance_e6)` — reused by
#: the importance query and the resampled-mixture composition.
_DSIR_CTES = f"""
    tok AS (
        SELECT doc_id, lang,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    bg AS (
        SELECT doc_id, lang,
               SUBSTR(MD5(tk || '_' || LEAD(tk) OVER (
                   PARTITION BY doc_id ORDER BY pos)), 1, 2) AS feat
        FROM tok
        QUALIFY LEAD(tk) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
    ),
    src AS (SELECT feat, COUNT(*) AS cs FROM bg GROUP BY feat),
    tgt AS (SELECT feat, COUNT(*) AS ct FROM bg
            WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY feat),
    tot AS (
        SELECT (SELECT COUNT(*) FROM bg) AS ns,
               (SELECT COUNT(*) FROM bg WHERE lang = '{DSIR_TARGET_LANG}') AS nt
    ),
    w AS (
        SELECT s.feat,
               CAST(FLOOR(LN(
                   (COALESCE(t.ct, 0) + 1.0) * (tot.ns + {DSIR_BUCKETS})
                   / ((s.cs + 1.0) * (tot.nt + {DSIR_BUCKETS}))
               ) * 1000000) AS BIGINT) AS w_e6
        FROM src s LEFT JOIN tgt t ON t.feat = s.feat CROSS JOIN tot
    ),
    imp AS (
        SELECT bg.doc_id,
               COUNT(*) AS n_feats,
               SUM(w.w_e6) AS importance_e6
        FROM bg JOIN w ON w.feat = bg.feat
        GROUP BY bg.doc_id
    )
"""


def dsir_importance_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance relation (doc_id, n_feats,
    importance_e6) — the shared builder behind `x4_dsir_importance`
    and the resampled-mixture composition."""
    docs = t(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN "
                "transform(sequence(1, size(split(text, ' ')) - 1), "
                "i -> concat(split(text, ' ')[i-1], '_', split(text, ' ')[i])) "
                "ELSE array() END"
            )
        ).alias("bigram"),
    ).select("doc_id", "lang", F.substring(F.md5("bigram"), 1, 2).alias("feat"))
    src = bg.groupBy("feat").agg(F.count(F.lit(1)).alias("cs"))
    tgt = (
        bg.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("feat")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    ns = bg.count()
    nt = bg.filter(F.col("lang") == DSIR_TARGET_LANG).count()
    w = src.join(tgt, "feat", "left").select(
        "feat",
        F.floor(
            F.log(
                (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                * F.lit(float(ns + DSIR_BUCKETS))
                / ((F.col("cs") + F.lit(1.0)) * F.lit(float(nt + DSIR_BUCKETS)))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("w_e6"),
    )
    return (
        bg.join(F.broadcast(w), "feat")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("w_e6").cast("long").alias("importance_e6"),
        )
    )


@register(
    "x4_dsir_importance",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    bg AS (
        SELECT doc_id, lang,
               SUBSTR(MD5(tk || '_' || LEAD(tk) OVER (
                   PARTITION BY doc_id ORDER BY pos)), 1, 2) AS feat
        FROM tok
        QUALIFY LEAD(tk) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
    ),
    src AS (SELECT feat, COUNT(*) AS cs FROM bg GROUP BY feat),
    tgt AS (SELECT feat, COUNT(*) AS ct FROM bg
            WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY feat),
    tot AS (
        SELECT (SELECT COUNT(*) FROM bg) AS ns,
               (SELECT COUNT(*) FROM bg WHERE lang = '{DSIR_TARGET_LANG}') AS nt
    ),
    w AS (
        SELECT s.feat,
               CAST(FLOOR(LN(
                   (COALESCE(t.ct, 0) + 1.0) * (tot.ns + {DSIR_BUCKETS})
                   / ((s.cs + 1.0) * (tot.nt + {DSIR_BUCKETS}))
               ) * 1000000) AS BIGINT) AS w_e6
        FROM src s LEFT JOIN tgt t ON t.feat = s.feat CROSS JOIN tot
    )
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(w.w_e6) AS BIGINT) AS importance_e6,
           SUM(w.w_e6) > 0 AS target_like
    FROM bg JOIN w ON w.feat = bg.feat
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
    survey_ids=("X4",),
)
def x4_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: per-document Σ log(p_target/p_source)
    over hashed-bigram features (256 md5 buckets, Laplace-smoothed
    counts) — positive means the doc's feature distribution looks more
    like the target domain (here: the '{DSIR_TARGET_LANG}' slice) than
    the raw corpus, the resampling signal of Xie et al. 2023.

    Exactness: each feature's log-ratio is ln() of one exactly-computed
    double ratio of integer counts, floored to 1e-6 BIGINT BEFORE the
    per-doc sum — so document scores are order-independent integer
    sums, immune to float-summation wobble. The 256-row weight model
    broadcasts; corpus cost is one bigram explode + two vocab-sized
    groupBys + one per-doc agg (shared builder: `dsir_importance_rel`)."""
    return (
        dsir_importance_rel(spark, sf_dir)
        .withColumn("target_like", F.col("importance_e6") > 0)
        .orderBy("doc_id")
    )


from etl_generator_demo_spark.operators.dedup import _DUCK_SHINGLES


@register(
    "x4_shingle_novelty",
    oracle=f"""
    {_DUCK_SHINGLES},
    first_owner AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM shingles GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(FLOOR(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                * 1000000.0 / COUNT(*)) AS BIGINT) AS novelty_e6
    FROM shingles s JOIN first_owner f ON f.shingle = s.shingle
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    survey_ids=("X2", "X4"),
)
def x4_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty per document: the fraction of a doc's
    distinct 5-gram shingles whose FIRST owner (lowest doc_id — the
    ingestion-order proxy) is the doc itself. The streaming-dedup
    admission signal: a doc whose shingles all appeared earlier adds no
    new n-gram mass and is a drop candidate even when no single earlier
    doc crosses a pairwise threshold (aggregate duplication that
    pairwise Jaccard/containment cannot see).

    Distinct from `x2_shingle_dup_coverage` (symmetric sharing): this
    is ORDER-AWARE — of two identical docs, the first scores 1.0 and
    the second 0.0. One map-combined min per shingle + one co-keyed
    join back + one per-doc agg; never pairwise."""
    from etl_generator_demo_spark.operators.dedup import corpus_shingles

    sh = corpus_shingles(spark, sf_dir)  # distinct (doc_id, shingle)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.floor(novel * 1_000_000.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("novelty_e6"),
        )
        .orderBy("doc_id")
    )


SEQLEN_CAPS = [64, 128, 256, 512, 1024]
SEQLEN_KEEP_NUM, SEQLEN_KEEP_DEN = 99, 100  # keep >= 99% of token mass


@register(
    "x4_seqlen_cap_selection",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    total AS (SELECT SUM(n_tokens) AS tot FROM lens),
    caps AS (SELECT UNNEST([{", ".join(str(c) for c in SEQLEN_CAPS)}]) AS cap),
    mass AS (
        SELECT c.cap,
               SUM(LEAST(l.n_tokens, c.cap)) AS kept_tokens,
               SUM(CASE WHEN l.n_tokens > c.cap THEN 1 ELSE 0 END) AS n_truncated
        FROM lens l CROSS JOIN caps c
        GROUP BY c.cap
    )
    SELECT m.cap,
           CAST(m.kept_tokens AS BIGINT) AS kept_tokens,
           CAST(m.n_truncated AS BIGINT) AS n_truncated,
           CAST(FLOOR(m.kept_tokens * 1000000.0 / t.tot) AS BIGINT) AS kept_e6,
           {SEQLEN_KEEP_DEN} * m.kept_tokens >= {SEQLEN_KEEP_NUM} * t.tot
               AS meets_target,
           m.cap = (SELECT MIN(cap) FROM mass, total
                    WHERE {SEQLEN_KEEP_DEN} * kept_tokens
                          >= {SEQLEN_KEEP_NUM} * tot) AS chosen
    FROM mass m CROSS JOIN total t
    ORDER BY m.cap
    """,
    survey_ids=("X4", "A2"),
)
def x4_seqlen_cap_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length cap selection — the max_seq_len decision every
    packing pipeline makes: for each candidate cap (powers of two),
    the token mass kept after truncation and the doc count truncated;
    `chosen` marks the smallest cap retaining ≥ 99% of corpus tokens.
    All-integer mass arithmetic (LEAST of BIGINTs, exact rational
    threshold), so the decision itself is engine-identical. Cost: one
    length scan exploded by |caps| (map-side) + one grouped agg —
    corpus-linear, caps-constant."""
    docs = t(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    tot = lens.agg(F.sum("n_tokens")).first()[0]
    caps = F.explode(F.array(*[F.lit(c) for c in SEQLEN_CAPS])).alias("cap")
    mass = (
        lens.select("n_tokens", caps)
        .groupBy("cap")
        .agg(
            F.sum(F.least(F.col("n_tokens"), F.col("cap"))).alias("kept_tokens"),
            F.sum(F.when(F.col("n_tokens") > F.col("cap"), 1).otherwise(0)).alias(
                "n_truncated"
            ),
        )
    )
    meets = SEQLEN_KEEP_DEN * F.col("kept_tokens") >= SEQLEN_KEEP_NUM * F.lit(tot)
    scored = mass.select(
        F.col("cap").cast("long").alias("cap"),
        F.col("kept_tokens").cast("long").alias("kept_tokens"),
        F.col("n_truncated").cast("long").alias("n_truncated"),
        F.floor(F.col("kept_tokens") * 1_000_000.0 / F.lit(float(tot)))
        .cast("long")
        .alias("kept_e6"),
        meets.alias("meets_target"),
    )
    chosen_cap = (
        scored.filter(F.col("meets_target"))
        .agg(F.min("cap"))
        .first()[0]
    )
    return scored.withColumn(
        "chosen", F.col("cap") == F.lit(chosen_cap)
    ).orderBy("cap")


#: Shared by x4_trigram_langid_confusion and the kappa aggregate
#: (surfaces_r11): the naive-Bayes lang-ID confusion matrix.
LANGID_CONFUSION_SQL = """
    WITH tri AS (
        SELECT d.doc_id, d.lang, SUBSTR(LOWER(d.text), g.i, 3) AS tri
        FROM documents d, LATERAL (
            SELECT UNNEST(RANGE(1, GREATEST(LEN(d.text) - 1, 1))) AS i
        ) g
    ),
    tric AS (
        SELECT doc_id, lang, tri, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tri GROUP BY doc_id, lang, tri
    ),
    langs AS (SELECT DISTINCT lang FROM documents),
    vocab AS (SELECT COUNT(DISTINCT tri) AS v FROM tric),
    prof AS (
        SELECT lang, tri, SUM(cnt) AS c FROM tric GROUP BY lang, tri
    ),
    tot AS (SELECT lang, SUM(cnt) AS n FROM tric GROUP BY lang),
    scored AS (
        SELECT t.doc_id, t.lang AS actual, l.lang AS cand,
               SUM(t.cnt * CAST(FLOOR(LN(
                   (COALESCE(p.c, 0) + 1.0) / (tt.n + vv.v)
               ) * 1000000) AS BIGINT)) AS score_e6
        FROM tric t
        CROSS JOIN langs l
        LEFT JOIN prof p ON p.lang = l.lang AND p.tri = t.tri
        JOIN tot tt ON tt.lang = l.lang
        CROSS JOIN vocab vv
        GROUP BY t.doc_id, t.lang, l.lang
    ),
    pred AS (
        SELECT doc_id, actual, cand AS predicted,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score_e6 DESC, cand) AS rk
        FROM scored
    )
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rk = 1
    GROUP BY actual, predicted
    ORDER BY actual, predicted
    """


@register(
    "x4_trigram_langid_confusion",
    oracle=LANGID_CONFUSION_SQL,
    survey_ids=("X4",),
)
def x4_trigram_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram naive-Bayes language ID, reported as a
    confusion matrix against the fixture's true labels — the
    statistical lang-ID tier above `x4_quality_and_lang`'s heuristics
    (fastText/CLD's feature family). Per-language trigram profiles are
    Laplace-smoothed over the corpus itself (self-trained demo; in
    production the profiles are a broadcast model trained off-corpus);
    each doc scores Σ log p(tri|lang) over its trigram OCCURRENCES and
    takes the argmax (ties → lexicographically first language).

    Determinism: each per-trigram log-likelihood floors to 1e-6 BIGINT
    BEFORE summation (DSIR's discipline), so scores are exact integer
    sums. Cost: trigram explode (map-side) × |langs| candidate fan-out
    — corpus-linear with a 5× constant; the profile relation is
    vocab-sized and joins co-keyed on (lang, tri)."""
    docs = t(spark, sf_dir, "documents")
    tri = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                # CASE guard, not greatest(...): sequence(1, 0) is
                # DESCENDING [1, 0] in Spark, which would fabricate two
                # trigrams for a <3-char doc (latent on this fixture;
                # the DSIR bigram builder uses the same guard)
                "CASE WHEN length(text) >= 3 THEN "
                "transform(sequence(1, length(text) - 2), "
                "i -> substring(lower(text), i, 3)) "
                "ELSE array() END"
            )
        ).alias("tri"),
    )
    # r11 rewrite: collapse occurrences to (doc, tri, cnt) BEFORE the
    # x|langs| candidate fan-out — floor-per-type x count is exactly
    # sum of floor-per-occurrence (same lp within a type), and the
    # heavy join input shrinks by the within-doc repetition factor
    # (measured 2.07x at sf0.1)
    tric = tri.groupBy("doc_id", "lang", "tri").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    langs = docs.select(F.col("lang").alias("cand")).distinct()
    # vocabulary size as a LAZY 1-row broadcast (mirrors the oracle's
    # `vocab` CTE): the r11 spelling ran an eager distinct().count()
    # at DataFrame-CONSTRUCTION time, so plan-only consumers
    # (tools/plan_audit.py) and every composition importing this
    # relation (kappa) paid a real corpus scan before any action —
    # the st_batch_size_drop_sweep advice class (r12), applied here
    vocab = tric.agg(F.countDistinct("tri").cast("long").alias("v"))
    prof = tric.groupBy(F.col("lang").alias("cand"), "tri").agg(
        F.sum("cnt").alias("c")
    )
    tot = tric.groupBy(F.col("lang").alias("cand")).agg(
        F.sum("cnt").alias("n")
    )
    scored = (
        tric.crossJoin(F.broadcast(langs))
        .join(prof, ["cand", "tri"], "left")
        .join(F.broadcast(tot), "cand")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", F.col("lang").alias("actual"), "cand")
        .agg(
            F.sum(
                F.col("cnt")
                * F.floor(
                    F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                        / (F.col("n") + F.col("v"))
                    )
                    * 1_000_000
                ).cast("long")
            ).alias("score_e6")
        )
    )
    from pyspark.sql import Window as W

    pred = scored.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.desc("score_e6"), F.col("cand"))
        ),
    ).filter(F.col("rk") == 1)
    return (
        pred.groupBy("actual", F.col("cand").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


WSAMPLE_K = 20


@register(
    "x4_weighted_sample_topk",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               CAST(FLOOR(LN(
                   (CAST('0x' || SUBSTR(MD5('ws|' || CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) + 1.0) / 4294967296.0
               ) / n_chars * 1000000000) AS BIGINT) AS key_e9
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, n_chars, key_e9,
               ROW_NUMBER() OVER (ORDER BY key_e9 DESC, doc_id) AS rk
        FROM keyed
    )
    SELECT CAST(rk AS BIGINT) AS rk, doc_id, lang,
           CAST(n_chars AS BIGINT) AS n_chars, key_e9
    FROM ranked WHERE rk <= {WSAMPLE_K}
    ORDER BY rk
    """,
    survey_ids=("X4",),
)
def x4_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis–Spirakis A-ES scheme — each doc draws priority
    ln(u)/w with u an md5-derived uniform and w = n_chars; the top-k
    by priority IS a weighted sample without replacement (longer docs
    proportionally likelier). Unlike seeded `.sample()`, the draw is a
    pure column expression — reproducible independent of partitioning,
    executor count, or Spark version, which is what a 100 TB curation
    run must guarantee to be auditable. Priorities floor to 1e-9
    BIGINT and rank with doc_id tiebreak, so the selected set and its
    order hash engine-identically; selection is one scan +
    TakeOrderedAndProject — no shuffle of the corpus."""
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    key = F.floor(
        F.log((h + F.lit(1.0)) / F.lit(4294967296.0))
        / F.col("n_chars")
        * 1_000_000_000
    ).cast("long")
    keyed = docs.select("doc_id", "lang", "n_chars", key.alias("key_e9"))
    rk = F.row_number().over(W.orderBy(F.desc("key_e9"), F.col("doc_id")))
    return (
        keyed.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= WSAMPLE_K)
        .select("rk", "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"), "key_e9")
        .orderBy("rk")
    )


DSIR_MIX_BUDGET = 1500  # tokens per language


@register(
    "x4_dsir_resampled_mixture",
    oracle=f"""
    WITH {_DSIR_CTES},
    sized AS (
        SELECT d.doc_id, d.lang,
               CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tokens,
               i.importance_e6
        FROM documents d JOIN imp i ON i.doc_id = d.doc_id
    ),
    ordered AS (
        SELECT doc_id, lang, n_tokens, importance_e6,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY importance_e6 DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS tok_before
        FROM sized
    )
    SELECT lang, doc_id,
           CAST(importance_e6 AS BIGINT) AS importance_e6,
           n_tokens,
           CAST(tok_before AS BIGINT) AS tok_before
    FROM ordered
    WHERE tok_before < {DSIR_MIX_BUDGET}
    ORDER BY lang, tok_before, doc_id
    """,
    survey_ids=("X4",),
)
def x4_dsir_resampled_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-resampled training mixture — the composition Xie et al.'s
    pipeline actually runs: within each language's token budget, admit
    documents in IMPORTANCE order (most target-like first) instead of
    `x4_token_budget_mixture`'s neutral md5 order. Same admit rule
    (cumulative tokens before the doc < budget), so the two mixtures
    differ only in ranking — which is exactly the knob data-selection
    turns. Importance scores are exact integer sums (shared builder),
    the per-lang window is the only shuffle beyond the DSIR chain."""
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    ).join(dsir_importance_rel(spark, sf_dir).select("doc_id", "importance_e6"), "doc_id")
    w = (
        W.partitionBy("lang")
        .orderBy(F.desc("importance_e6"), F.col("doc_id"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ordered = sized.withColumn(
        "tok_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return (
        ordered.filter(F.col("tok_before") < DSIR_MIX_BUDGET)
        .select("lang", "doc_id", F.col("importance_e6").cast("long").alias("importance_e6"), "n_tokens", "tok_before")
        .orderBy("lang", "tok_before", "doc_id")
    )


@register(
    "x4_corpus_report_card",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, lang,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
               LEN(REGEXP_EXTRACT_ALL(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
                   AS has_email
        FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM base),
    langs AS (
        SELECT lang, COUNT(*) AS c FROM base GROUP BY lang
    ),
    ent AS (
        SELECT SUM(CAST(FLOOR(
                   (CAST(c AS DOUBLE) / n.n_docs)
                   * LN(CAST(n.n_docs AS DOUBLE) / c) * 1000000
               ) AS BIGINT)) AS entropy_e6
        FROM langs CROSS JOIN n
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_docs,
           (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM base) AS total_tokens,
           (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM base) AS n_langs,
           (SELECT CAST(entropy_e6 AS BIGINT) FROM ent) AS lang_entropy_e6,
           (SELECT CAST((COUNT(*) - COUNT(DISTINCT MD5(text))) * 1000000
                   // COUNT(*) AS BIGINT) FROM base) AS exact_dup_rate_e6,
           (SELECT CAST(SUM(CASE WHEN has_email THEN 1 ELSE 0 END) * 1000000
                   // COUNT(*) AS BIGINT) FROM base) AS email_doc_rate_e6,
           (SELECT CAST(SUM(n_tokens) * 100 // COUNT(*) AS BIGINT) FROM base)
               AS mean_tokens_e2
    """,
    survey_ids=("X4", "A2", "A3"),
)
def x4_corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report card — the summary a curation run
    publishes before anyone trains on the data: size, language-mix
    entropy (nats, e6 fixed-point — per-language terms floored BEFORE
    the sum, so the float ln never crosses an aggregation boundary),
    exact-dup rate, PII (email) document rate, and mean length. Every
    rate is integer-division fixed-point over exact counts.

    The whole card is ONE pass over the corpus feeding scalar
    aggregates plus a lang-sized rollup — at 100 TB this is the query
    you run after every pipeline stage and diff against the previous
    card."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "text",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        (F.regexp_count("text", F.lit(PII_PATTERNS["email"])) > 0).alias("has_email"),
    ).localCheckpoint(eager=True)
    n_docs = base.count()
    ent = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.floor(
                (F.col("c").cast("double") / F.lit(float(n_docs)))
                * F.log(F.lit(float(n_docs)) / F.col("c"))
                * 1_000_000
            ).cast("long").alias("term_e6")
        )
        .agg(F.sum("term_e6").alias("entropy_e6"))
    )
    card = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.expr(
            "CAST((COUNT(1) - COUNT(DISTINCT md5(text))) * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("exact_dup_rate_e6"),
        F.expr(
            "CAST(SUM(CASE WHEN has_email THEN 1 ELSE 0 END) * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("email_doc_rate_e6"),
        F.expr("CAST(SUM(n_tokens) * 100 DIV COUNT(1) AS BIGINT)").alias(
            "mean_tokens_e2"
        ),
    )
    return card.crossJoin(ent).select(
        "n_docs",
        "total_tokens",
        "n_langs",
        F.col("entropy_e6").cast("long").alias("lang_entropy_e6"),
        "exact_dup_rate_e6",
        "email_doc_rate_e6",
        "mean_tokens_e2",
    )


# ---------------------------------------------------------------------------
# k-anonymity generalization ladder — release-gating governance
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
    from pyspark.sql import Window

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
# Chi-square independence test — lang × source contingency
# ---------------------------------------------------------------------------
@register(
    "x4_chi2_lang_source",
    oracle="""
    WITH obs AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ),
    langs AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS row_tot FROM obs GROUP BY lang),
    srcs  AS (SELECT source, CAST(SUM(o) AS BIGINT) AS col_tot FROM obs GROUP BY source),
    tot   AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
        SELECT l.lang, s.source, l.row_tot, s.col_tot,
               COALESCE(obs.o, 0) AS o
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
    )
    SELECT (SELECT n FROM tot) AS n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM langs) AS n_langs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM srcs) AS n_sources,
           (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM langs)
               * (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM srcs) AS dof,
           CAST(SUM(contrib_e6) AS BIGINT) AS chi2_e6
    FROM cells
    """,
    survey_ids=("A1", "J4", "F7"),
)
def x4_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test on the lang × source
    contingency table — "is the language mix the same across crawl
    sources?", the first question a corpus-balance review asks. The
    grid is COMPLETED by crossing the margin relations and left-
    joining observed counts, so zero cells contribute their full
    (0−E)²/E term (dropping them understates χ²). Per-cell
    contributions floor to e6 fixed point BEFORE the sum, making the
    statistic order-independent and hashable; dof = (R−1)(C−1) ships
    alongside so the caller can look up the p-value.

    Scale: documents reduce to the |langs|×|sources| cell relation in
    one map-combined groupBy; margins, the grid cross join, and the
    final sum all run on margin-sized relations — nothing after the
    first aggregate touches a document row."""
    obs = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        # materialize the |R|×|C| cell relation ONCE: margins, the
        # grid, and the totals all derive from it — without the cut,
        # every branch would rescan and re-aggregate the corpus
        .localCheckpoint()
    )
    langs = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("row_tot"))
    srcs = obs.groupBy("source").agg(F.sum("o").cast("long").alias("col_tot"))
    tot = obs.agg(
        F.sum("o").cast("long").alias("n"),
    )
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
    e = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    contrib = F.floor(F.pow(F.col("o") - e, 2) / e * 1_000_000).cast("long")
    counts = (
        langs.agg(F.count(F.lit(1)).cast("long").alias("n_langs"))
        .crossJoin(srcs.agg(F.count(F.lit(1)).cast("long").alias("n_sources")))
    )
    return (
        grid.select(contrib.alias("contrib_e6"))
        .agg(F.sum("contrib_e6").cast("long").alias("chi2_e6"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(counts))
        .select(
            "n",
            "n_langs",
            "n_sources",
            ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
            "chi2_e6",
        )
    )


# ---------------------------------------------------------------------------
# Quantile normalization — align per-source score distributions
# ---------------------------------------------------------------------------
def _quantile_normalize_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
    WITH scored AS (
        SELECT doc_id, source,
               FLOOR((
                   CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')))
                        AS DOUBLE)
                   / GREATEST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')), 1)
                 + CAST(LEN(LIST_INTERSECT(
                       LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')),
                       [{stop_list}])) AS DOUBLE) / {float(len(STOPWORDS_EN))}
                 + LEAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) / 100.0, 1.0)
               ) / 3 * 10000) / 10000 AS q
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, q,
               CAST(FLOOR(PERCENT_RANK() OVER (
                   PARTITION BY source ORDER BY q, doc_id
               ) * 100) AS BIGINT) AS bucket
        FROM scored
    ),
    gsorted AS (
        SELECT q, ROW_NUMBER() OVER (ORDER BY q, doc_id) AS rn FROM scored
    ),
    cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
    gidx AS (
        SELECT CAST(i AS BIGINT) AS idx, gs.q AS gq
        FROM RANGE(0, 101) t(i)
        CROSS JOIN cnt
        JOIN gsorted gs ON gs.rn = (i * (cnt.n - 1)) // 100 + 1
    )
    SELECT r.doc_id, r.source, r.q, r.bucket,
           CAST(FLOOR(g.gq * 1000000) AS BIGINT) AS norm_q_e6
    FROM ranked r JOIN gidx g ON g.idx = r.bucket
    ORDER BY r.doc_id
    """


@register(
    "x4_quantile_normalize_scores",
    oracle=_quantile_normalize_oracle(),
    survey_ids=("W1", "A2", "X4"),
)
def x4_quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of quality scores ACROSS sources — map
    each document's within-source percentile onto the global score
    distribution, so a "0.8 from a lenient crawl" and a "0.8 from a
    strict one" become comparable before corpus mixing (the
    distribution-alignment step bioinformatics calls quantile
    normalization, applied to data curation). Within-source position
    is PERCENT_RANK over a total order; the global reference is a
    101-point TYPE-1 (discrete) quantile grid selected by exact rank —
    grid values are actual data values picked by integer arithmetic,
    so no interpolation formula has to agree across engines (the
    interpolated form differs in the last ulp between implementations
    and flips fixed-point floors).

    At 100 TB: one source-keyed window shuffle; the global rank is the
    exact tier, computed by ``global_row_number`` (range-shuffle +
    per-partition ids — cluster-parallel, NO single-partition sort;
    same exact-vs-`approx_percentile` contract as `a_percentiles`: the
    sketch path would derive the grid from approx_percentile with an
    identical downstream plan). The doc→grid join broadcasts 101
    rows."""
    from pyspark.sql import Window

    from etl_generator_demo_spark.operators.analytics_ext import global_row_number

    scored = t(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score_expr("text").alias("q")
    )
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        "q",
        F.floor(F.percent_rank().over(w) * 100).cast("long").alias("bucket"),
    )
    # global rank: exact tier (see docstring), distributed
    gnum, n = global_row_number(
        scored.select("q", "doc_id"), [F.col("q").asc(), F.col("doc_id").asc()],
        rn_col="rn",
    )
    gsorted = gnum.select("q", "rn")
    gidx = (
        spark.range(101)
        .select(F.col("id").cast("long").alias("bucket"))
        .withColumn("rn", F.expr(f"bucket * ({n} - 1) DIV 100") + 1)
        .join(gsorted, "rn")
        .select(
            "bucket",
            F.floor(F.col("q") * 1_000_000).cast("long").alias("norm_q_e6"),
        )
    )
    return (
        ranked.join(F.broadcast(gidx), "bucket")
        .select("doc_id", "source", "q", "bucket", "norm_q_e6")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov — continuous distribution drift
# ---------------------------------------------------------------------------
def _ks_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
    WITH scored AS (
        SELECT source,
               FLOOR((
                   CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')))
                        AS DOUBLE)
                   / GREATEST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')), 1)
                 + CAST(LEN(LIST_INTERSECT(
                       LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')),
                       [{stop_list}])) AS DOUBLE) / {float(len(STOPWORDS_EN))}
                 + LEAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) / 100.0, 1.0)
               ) / 3 * 10000) / 10000 AS q
        FROM documents WHERE source IN ('src0', 'src1')
    ),
    grid AS (
        SELECT q,
               CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM scored GROUP BY q
    ),
    tot AS (
        SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
        FROM grid
    ),
    cum AS (
        SELECT q,
               SUM(c0) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k0,
               SUM(c1) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k1
        FROM grid
    )
    SELECT tot.n0, tot.n1,
           CAST(MAX(ABS(
               CAST(FLOOR(k0 * 1000000.0 / tot.n0) AS BIGINT)
               - CAST(FLOOR(k1 * 1000000.0 / tot.n1) AS BIGINT)
           )) AS BIGINT) AS ks_d_e6,
           CAST(MAX(ABS(
               CAST(FLOOR(k0 * 1000000.0 / tot.n0) AS BIGINT)
               - CAST(FLOOR(k1 * 1000000.0 / tot.n1) AS BIGINT)
           )) AS BIGINT)
               > CAST(FLOOR(1358000 * SQRT((tot.n0 + tot.n1) * 1.0
                                           / (tot.n0 * tot.n1))) AS BIGINT)
               AS drifted_5pct
    FROM cum, tot
    GROUP BY tot.n0, tot.n1
    """


@register("x4_ks_source_drift", oracle=_ks_oracle(), survey_ids=("A2", "W3", "X4"))
def x4_ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between two crawl
    sources' quality-score distributions — the continuous sibling of
    `x4_chi2_lang_source` (categorical) and `x4_ab_test_lift`
    (proportions): D = max |F₀(x) − F₁(x)| with the α=0.05 rejection
    threshold c(α)·√((n₀+n₁)/(n₀·n₁)), c(0.05)=1.358 — the standard
    "did this source's data change under us" monitor. Empirical CDFs
    evaluate on the merged DISTINCT-VALUE grid (scores are 1e-4
    lattice points, so |grid| ≤ 10⁴ regardless of corpus size); per-
    value counts are one map-combined groupBy, the cumulative sums
    one ordered window over the grid relation, and both CDF fractions
    floor to e6 BEFORE the max so D hashes exactly. Documents cross
    the wire once; everything after is grid-sized."""
    from pyspark.sql import Window

    scored = (
        t(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1"))
        .select("source", quality_score_expr("text").alias("q"))
    )
    grid = scored.groupBy("q").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long").alias("c0"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
        .cast("long").alias("c1"),
    )
    tot = grid.agg(
        F.sum("c0").cast("long").alias("n0"), F.sum("c1").cast("long").alias("n1")
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "q",
        F.sum("c0").over(w).alias("k0"),
        F.sum("c1").over(w).alias("k1"),
    )
    d = F.abs(
        F.floor(F.col("k0") * 1_000_000.0 / F.col("n0")).cast("long")
        - F.floor(F.col("k1") * 1_000_000.0 / F.col("n1")).cast("long")
    )
    thr = F.floor(
        1_358_000
        * F.sqrt((F.col("n0") + F.col("n1")) * 1.0 / (F.col("n0") * F.col("n1")))
    ).cast("long")
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n0", "n1")
        .agg(F.max(d).cast("long").alias("ks_d_e6"))
        .select("n0", "n1", "ks_d_e6", (F.col("ks_d_e6") > thr).alias("drifted_5pct"))
    )


# ---------------------------------------------------------------------------
# Round 7: lexical-diversity suite — Simpson index, type-token ratio,
# coverage-at-k. All exact-integer idioms over the whitespace-token
# relation (same tokenizer as the heavy-hitter / Zipf / vocab queries).
# ---------------------------------------------------------------------------


@register(
    "x4_token_simpson_diversity",
    oracle="""
    WITH c AS (
        SELECT source, tk, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tk
              FROM documents)
        GROUP BY source, tk
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(1000000 - (CAST(SUM(n * (n - 1)) AS BIGINT) * 1000000)
                          // (CAST(SUM(n) AS BIGINT)
                              * (CAST(SUM(n) AS BIGINT) - 1))
                AS BIGINT) AS simpson_e6
    FROM c
    GROUP BY source
    ORDER BY source
    """,
    survey_ids=("X4", "A1"),
)
def x4_token_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index per source over the token unigram
    distribution — D = 1 − Σn(n−1)/(N(N−1)), the probability two
    random tokens differ. A collapsing D flags template/boilerplate
    sources before they flood a training mix; unlike Shannon entropy
    the index needs NO logarithm, so every term stays an exact BIGINT
    and the e6 fixed-point is INTEGER division — nothing can drift
    between engines. Plan: explode → (source, token) map-combined
    count → per-source second aggregate; shuffle volume is bounded by
    vocabulary size, not corpus size. (At 100-TB token counts Σn(n−1)
    wants DECIMAL(38,0); identical plan.)"""
    docs = t(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tk"))
        .groupBy("source", "tk")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = c.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("_coll"),
    )
    return s.select(
        "source",
        "n_tokens",
        "vocab",
        F.expr(
            "CAST(1000000 - (_coll * 1000000) DIV (n_tokens * (n_tokens - 1)) AS LONG)"
        ).alias("simpson_e6"),
    ).orderBy("source")


@register(
    "x4_type_token_ratio",
    oracle="""
    WITH c AS (
        SELECT source, tk, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tk
              FROM documents)
        GROUP BY source, tk
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST((CAST(COUNT(*) AS BIGINT) * 1000000)
                // CAST(SUM(n) AS BIGINT) AS BIGINT) AS ttr_e6,
           CAST((CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 * 1000000) // CAST(COUNT(*) AS BIGINT)
                AS BIGINT) AS hapax_share_e6
    FROM c
    GROUP BY source
    ORDER BY source
    """,
    survey_ids=("X4", "A1"),
)
def x4_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per source: type-token ratio (distinct tokens
    over total tokens) and hapax-legomena share (vocabulary seen
    exactly once) — the two standard screens for synthetic or
    over-deduplicated text (TTR collapses on template spam, hapax
    share collapses when a source is machine-paraphrased). Exact
    integer counts + integer-division e6 fixed-point; same
    vocabulary-bounded two-level aggregate shape as the Simpson
    index (the two stay separate queries because curation pipelines
    gate on them independently)."""
    docs = t(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tk"))
        .groupBy("source", "tk")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = c.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
    )
    return s.select(
        "source",
        "n_tokens",
        "vocab",
        "hapax",
        F.expr("CAST((vocab * 1000000) DIV n_tokens AS LONG)").alias("ttr_e6"),
        F.expr("CAST((hapax * 1000000) DIV vocab AS LONG)").alias("hapax_share_e6"),
    ).orderBy("source")


@register(
    "x4_ngram_coverage_topk",
    oracle="""
    WITH c AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tk FROM documents)
        GROUP BY tk
    ),
    r AS (
        SELECT n,
               ROW_NUMBER() OVER (ORDER BY n DESC, tk) AS rn,
               CAST(SUM(n) OVER (ORDER BY n DESC, tk
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT) AS cum
        FROM c
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c)
    SELECT rn AS k, cum AS cum_tokens,
           CAST((cum * 1000000) // t AS BIGINT) AS covered_e6
    FROM r, tot
    WHERE rn IN (5, 10, 25)
    ORDER BY k
    """,
    survey_ids=("X4", "W1", "W3", "A1"),
)
def x4_ngram_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve at k ∈ {5, 10, 25}: what fraction
    of all token occurrences the k most frequent types account for —
    the number that sizes a tokenizer vocabulary and predicts how far
    a stopword list reaches. Frequency ranking AND the cumulative
    occurrence sum both run over the (n DESC, token) total order via
    the distributed exact primitives — ``global_row_number`` for the
    rank, ``global_running`` for the prefix sum — so the vocabulary
    relation is never funneled through a single-partition window (at
    web scale the vocabulary alone is billions of types). The three
    output rows select by exact rank; coverage is integer-division e6
    fixed-point."""
    from etl_generator_demo_spark.operators.analytics_ext import (
        global_row_number,
        global_running,
    )

    docs = t(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(F.split("text", " ")).alias("tk"))
        .groupBy("tk")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ranked, _n = global_row_number(
        c, [F.col("n").desc(), F.col("tk").asc()], rn_col="rn"
    )
    cum = global_running(
        ranked, [F.col("rn").asc()], "n", kind="sum", out_col="cum"
    )
    tot = c.agg(F.sum("n").cast("long").alias("t"))
    return (
        cum.filter(F.col("rn").isin(5, 10, 25))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("rn").cast("long").alias("k"),
            F.col("cum").cast("long").alias("cum_tokens"),
            F.expr("CAST((cum * 1000000) DIV t AS LONG)").alias("covered_e6"),
        )
        .orderBy("k")
    )


@register(
    "x4_shannon_entropy_lang",
    oracle="""
    WITH c AS (
        SELECT lang, tk, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tk
              FROM documents)
        GROUP BY lang, tk
    ),
    s AS (
        SELECT lang,
               CAST(SUM(n) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(n * CAST(FLOOR(LN(n) * 1000000000) AS BIGINT))
                    AS BIGINT) AS slog
        FROM c GROUP BY lang
    )
    SELECT lang, tot AS n_tokens, vocab,
           CAST(FLOOR((LN(CAST(tot AS DOUBLE))
                       - CAST(slog AS DOUBLE)
                         / (CAST(tot AS DOUBLE) * 1000000000.0))
                      * 1000000) AS BIGINT) AS entropy_nats_e6
    FROM s
    ORDER BY lang
    """,
    survey_ids=("X4", "A1"),
)
def x4_shannon_entropy_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the token unigram distribution per
    language — the information-density screen that complements the
    log-free Simpson index: entropy collapses on templated text even
    when the vocabulary stays wide. Uses the identity
    H = ln N − (1/N)·Σ n·ln n so the only per-term float is
    ``FLOOR(ln(n)·1e9)``, folded into an ORDER-INDEPENDENT exact
    integer sum (the Kaplan–Meier e9-floored-log idiom) — a naive
    Σ p·ln p float sum would hash-drift on aggregation order. Plan:
    the same vocabulary-bounded two-level aggregate as the diversity
    suite."""
    docs = t(spark, sf_dir, "documents")
    c = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tk"))
        .groupBy("lang", "tk")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = c.groupBy("lang").agg(
        F.sum("n").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(
            F.col("n") * F.floor(F.log(F.col("n")) * 1_000_000_000).cast("long")
        )
        .cast("long")
        .alias("slog"),
    )
    return s.select(
        "lang",
        F.col("tot").alias("n_tokens"),
        "vocab",
        F.floor(
            (
                F.log(F.col("tot").cast("double"))
                - F.col("slog").cast("double")
                / (F.col("tot").cast("double") * 1_000_000_000.0)
            )
            * 1_000_000
        )
        .cast("long")
        .alias("entropy_nats_e6"),
    ).orderBy("lang")
