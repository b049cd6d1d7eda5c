"""Exact substring-level deduplication (round 9) — the sliding
duplicate-span detector of Lee et al. 2022 ("Deduplicating Training
Data Makes Language Models Better", ExactSubstr): report exact shared
token spans of length >= T between DISTINCT documents, and the
per-document fraction of token positions covered by such spans — the
signal CCNet / RefinedWeb / MassiveText cut training corpora on.

Lee et al. build a monolithic suffix array; the Spark-first spelling
is candidate generation by WINNOWING fingerprints (already in
``textops.winnowing_fingerprints``) followed by an exact diagonal-run
verification restricted to candidate pairs:

- **Recall is provable, not probabilistic**: the winnowing guarantee
  (Schleimer/Wilkerson/Aiken) says two docs sharing a token run of
  >= K + W - 1 tokens share >= W consecutive identical K-gram hashes,
  hence a full fingerprint window lies inside the run in both docs
  and its min hash VALUE is selected on both sides. With K=5, W=4 the
  span threshold T = 8 makes the candidate stage LOSSLESS for the
  operator's semantics — which is why the DuckDB oracle can compute
  the answer directly (full K-gram equality join, no winnowing) and
  still hash-match.
- **The candidate stage is provably bounded**: winnowing stores
  ~2/(W+1) of all K-gram positions (density bound from the paper), so
  the fingerprint index is ~40% of the K-gram relation, and the
  verify join only ever touches documents that share a fingerprint —
  never corpus². The one residual hot spot is a boilerplate
  fingerprint shared by many docs; at 100 TB that key gets the same
  frequency-cap treatment as Adamic-Adar hubs (drop fps in > C docs —
  they are boilerplate by definition), kept OFF here so the oracle
  stays the plain exact computation.
- **Verification is exact**: matched K-gram positions of a candidate
  pair are grouped by diagonal (pos_a - pos_b); a maximal run of
  consecutive positions on one diagonal is a maximal shared span of
  run_len + K - 1 tokens (the classic dot-plot diagonal argument).

The per-position coverage query needs no pair enumeration at all: a
token position is duplicated iff it lies inside some cross-doc shared
K-gram, so coverage = interval union of fixed-length-K intervals over
the shared K-gram starts — one groupBy(h) + one join back keyed on h,
both LINEAR in corpus size.

Reference parity: the reference (HYUNJOON94/etl-generator-demo) has no
dedup operators at all — its corpus lives behind `sample_metadata.py`
and every computation is delegated to PostgreSQL. This family is the
LLM-training-pipeline surface the brief requires as first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .relational import t
from .textops import WINNOW_K, WINNOW_W, winnowing_fingerprints
from .tokens import (
    _DUCK_KGRAMS,
    _duck_n_tokens,
    _duck_token_counts,
    doc_token_positions,
    kgram_hashes,
    n_tokens,
    token_counts,
    ws_split,
)

#: K-gram size shared with the winnowing index (textops.WINNOW_K): the
#: coverage query counts positions inside cross-doc shared K-grams.
SPAN_K = WINNOW_K
#: Minimum reported span length in tokens. K + W - 1 is exactly the
#: winnowing recall guarantee, making fingerprint candidates lossless.
SPAN_T = WINNOW_K + WINNOW_W - 1

#: Full spans oracle, shared: the cross-source rollup embeds it as a
#: derived table.
_SPANS_ORACLE = f"""
    WITH {_DUCK_KGRAMS},
    m AS (
        SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        FROM kg a JOIN kg b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    r AS (
        SELECT da, db, pa,
               pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb
                                       ORDER BY pa) AS grp,
               pa - pb AS diag
        FROM m
    ),
    s AS (
        SELECT da, db, CAST(COUNT(*) + {SPAN_K - 1} AS BIGINT) AS span_tokens
        FROM r GROUP BY da, db, diag, grp
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
    FROM s WHERE span_tokens >= {SPAN_T}
    GROUP BY da, db
"""


@register(
    "x2_exact_substr_spans",
    oracle=_SPANS_ORACLE + "    ORDER BY doc_a, doc_b",
    survey_ids=("X2", "J1", "W1", "A1"),
)
def x2_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate spans >= T = K+W-1 tokens between distinct docs
    (Lee et al. 2022 ExactSubstr, Spark-first): per ordered doc pair,
    the number of maximal shared spans and the longest one.

    Plan: (1) winnowing fingerprints (density ~2/(W+1) of K-grams)
    self-joined on fp — the ONLY cross-doc join over the full corpus,
    keyed on the sparse fingerprint value; (2) the K-gram relation is
    semi-joined down to candidate documents, then equality-joined on
    the 128-bit gram hash WITHIN candidate pairs; (3) matched
    positions grouped by diagonal pa-pb, maximal consecutive runs
    found with the pos - row_number constant-group idiom, span length
    = run + K - 1, filtered at T = K + W - 1 — the exact threshold the
    winnowing guarantee covers, so candidate pruning is lossless and
    the oracle computes the same relation with no winnowing at all.

    At 100 TB: no corpus² stage exists — fingerprints are ~40% of the
    K-gram index, candidates shuffle on fp, the verify join touches
    candidate docs only, and the diagonal-run windows are keyed on
    (pair, diagonal) — per-pair data, trivially parallel. A boilerplate
    frequency cap on hot fingerprints is the documented production
    knob (same hub-cap discipline as Adamic-Adar), off here so the
    semantics stay 'all pairs with a shared span >= T'."""
    docs = t(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(docs)
    return _verified_span_pairs(docs, fps).orderBy("doc_a", "doc_b")


def _verified_span_pairs(docs: DataFrame, fps: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_spans, max_span_tokens): exact diagonal-run
    span verification over the candidate pairs the given fingerprint
    relation generates. Shared by the lossless query (all fps) and the
    hot-fp-capped production variant."""
    cand = (
        fps.select(F.col("doc_id").alias("da"), "fp")
        .join(fps.select(F.col("doc_id").alias("db"), "fp"), "fp")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    cand_docs = (
        cand.select(F.col("da").alias("doc_id"))
        .union(cand.select("db"))
        .distinct()
    )
    kg = kgram_hashes(docs).join(cand_docs, "doc_id", "semi")
    m = (
        kg.select(F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "h")
        .join(
            kg.select(F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "h"),
            "h",
        )
        .filter(F.col("da") < F.col("db"))
        .join(cand, ["da", "db"], "semi")
    )
    wr = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = (
        m.withColumn("diag", F.col("pa") - F.col("pb"))
        .withColumn("grp", F.col("pa") - F.row_number().over(wr))
        .groupBy("da", "db", "diag", "grp")
        .agg((F.count(F.lit(1)) + (SPAN_K - 1)).cast("long").alias("span_tokens"))
    )
    return (
        runs.filter(F.col("span_tokens") >= SPAN_T)
        .groupBy(F.col("da").alias("doc_a"), F.col("db").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.max("span_tokens").cast("long").alias("max_span_tokens"),
        )
    )


#: Shared coverage CTE tail (per-doc duplicated-token interval union).
_DUCK_COVERAGE = f"""
    hf AS (
        SELECT h FROM kg GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    sh AS (SELECT kg.doc_id, kg.pos FROM kg JOIN hf USING (h)),
    cov AS (
        SELECT doc_id,
               LEAST({SPAN_K},
                     COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                              - pos, {SPAN_K})) AS covered
        FROM sh
    ),
    pd AS (
        SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS n_dup_tokens
        FROM cov GROUP BY doc_id
    ),
    nt AS (
        SELECT doc_id, CAST({_duck_n_tokens()} AS BIGINT) AS n_tokens
        FROM documents
    )
"""


def _covered_tokens(docs: DataFrame, starts: DataFrame, name: str) -> DataFrame:
    """(doc_id, name, n_tokens): per doc, the token positions covered by
    the K-gram ``starts`` (doc_id, pos) — the interval union of their
    fixed-length-K intervals, sum of min(K, next_start - start) with
    the last interval paying K, one sorted window per doc — beside the
    doc's token count."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    covered = F.least(
        F.lit(SPAN_K), F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(SPAN_K))
    )
    per_doc = (
        starts.select("doc_id", covered.alias("covered"))
        .groupBy("doc_id")
        .agg(F.sum("covered").cast("long").alias(name))
    )
    ntok = docs.select("doc_id", n_tokens().cast("long").alias("n_tokens"))
    return per_doc.join(ntok, "doc_id")


def _coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_dup_tokens) for every doc with >= 1
    cross-doc shared K-gram. A position is duplicated iff covered by a
    K-gram whose hash occurs in >= 2 distinct docs; coverage is the
    interval union over the shared starts — no pair enumeration
    anywhere."""
    docs = t(spark, sf_dir, "documents")
    kg = kgram_hashes(docs)
    hf = (
        kg.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    shared = kg.join(hf, "h")  # keyed on h: linear, map-combined upstream
    return _covered_tokens(docs, shared, "n_dup_tokens")


@register(
    "x2_duplicated_token_fraction",
    oracle=f"""
    WITH {_DUCK_KGRAMS},
    {_DUCK_COVERAGE}
    SELECT pd.doc_id, nt.n_tokens, pd.n_dup_tokens,
           CAST(pd.n_dup_tokens * 1000000 // nt.n_tokens AS BIGINT)
               AS dup_frac_e6
    FROM pd JOIN nt USING (doc_id)
    ORDER BY doc_id
    """,
    survey_ids=("X2", "A1", "W3"),
)
def x2_duplicated_token_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token fraction: the share of a doc's
    token positions covered by a cross-doc exact shared span >= K
    tokens — Lee et al.'s per-example ExactSubstr signal, the number
    RefinedWeb-style pipelines threshold to drop or trim documents.

    Equivalence used: a position is covered by a shared span >= K iff
    it lies inside a shared K-gram (a span of L >= K tokens shares its
    L-K+1 K-gram starts, whose K-intervals union to the whole span).
    So the plan is pair-free: one groupBy(h) for cross-doc frequency,
    one join back on h, one per-doc sorted window for the interval
    union — every stage linear in corpus tokens, shuffles keyed on h
    then doc_id. Only docs with at least one shared K-gram appear."""
    out = _coverage(spark, sf_dir)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_dup_tokens",
        F.expr("(n_dup_tokens * 1000000) div n_tokens").alias("dup_frac_e6"),
    ).orderBy("doc_id")


@register(
    "x2_exact_substr_corpus_rate",
    oracle=f"""
    WITH {_DUCK_KGRAMS},
    {_DUCK_COVERAGE},
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM nt
    ),
    dup AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_with_dup,
               CAST(COALESCE(SUM(n_dup_tokens), 0) AS BIGINT) AS total_dup_tokens
        FROM pd
    )
    SELECT tot.n_docs, dup.n_docs_with_dup, tot.total_tokens,
           dup.total_dup_tokens,
           CAST(dup.total_dup_tokens * 1000000 // tot.total_tokens AS BIGINT)
               AS corpus_dup_frac_e6
    FROM tot, dup
    """,
    survey_ids=("X2", "A2"),
)
def x2_exact_substr_corpus_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplication rate: total tokens, tokens inside
    cross-doc shared spans, and the corpus duplicated fraction — the
    headline statistic of Lee et al. 2022 (they report e.g. C4 at
    ~3.9% near-duplicate content). One scalar row built from the same
    pair-free coverage relation as `x2_duplicated_token_fraction`;
    the cross join of the two 1-row aggregates is broadcast-trivial."""
    docs = t(spark, sf_dir, "documents")
    cov = _coverage(spark, sf_dir)
    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_tokens()).cast("long").alias("total_tokens"),
    )
    dup = cov.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_with_dup"),
        F.coalesce(F.sum("n_dup_tokens"), F.lit(0)).cast("long").alias(
            "total_dup_tokens"
        ),
    )
    return tot.crossJoin(dup).select(
        "n_docs",
        "n_docs_with_dup",
        "total_tokens",
        "total_dup_tokens",
        F.expr("(total_dup_tokens * 1000000) div total_tokens").alias(
            "corpus_dup_frac_e6"
        ),
    )


@register(
    "x2_dup_span_removal",
    oracle=f"""
    WITH {_DUCK_KGRAMS},
    own AS (
        SELECT h, MIN(doc_id) AS owner
        FROM kg GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    rem AS (
        SELECT kg.doc_id, kg.pos
        FROM kg JOIN own USING (h)
        WHERE kg.doc_id <> own.owner
    ),
    cov AS (
        SELECT doc_id,
               LEAST({SPAN_K},
                     COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                              - pos, {SPAN_K})) AS covered
        FROM (SELECT DISTINCT doc_id, pos FROM rem)
    ),
    pd AS (
        SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS n_removed_tokens
        FROM cov GROUP BY doc_id
    ),
    nt AS (
        SELECT doc_id, CAST({_duck_n_tokens()} AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT pd.doc_id, nt.n_tokens, pd.n_removed_tokens,
           nt.n_tokens - pd.n_removed_tokens AS n_kept_tokens,
           CAST((nt.n_tokens - pd.n_removed_tokens) * 1000000 // nt.n_tokens
                AS BIGINT) AS kept_frac_e6
    FROM pd JOIN nt USING (doc_id)
    ORDER BY doc_id
    """,
    survey_ids=("X2", "A1", "W3", "J1"),
)
def x2_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of ExactSubstr dedup (Lee et al. 2022 delete the
    later copy of every duplicated span): per document, how many token
    positions a keep-first removal pass deletes and what survives.

    Policy (doc-level keep-first, the distributed-friendly variant):
    each cross-doc shared K-gram hash is OWNED by the minimum doc_id
    containing it; every other doc's positions covered by that gram
    are removed. The owner keeps all its occurrences (within-doc
    repeats are the repetition filter's job, `x4_repetition_scores`),
    so exactly one document retains each duplicated span and the
    policy is deterministic under any partitioning — no sequential
    suffix-array pass, unlike the reference implementation in the
    paper.

    Plan shape = the coverage query plus a min aggregate: groupBy(h)
    now also carries min(doc_id); the join back drops owner positions
    map-side; the interval union is the same per-doc sorted window.
    All stages linear in corpus tokens, keyed h then doc_id."""
    docs = t(spark, sf_dir, "documents")
    kg = kgram_hashes(docs)
    own = (
        kg.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "owner")
    )
    rem = (
        kg.join(own, "h")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "pos")
        .distinct()
    )
    return (
        _covered_tokens(docs, rem, "n_removed_tokens")
        .select(
            "doc_id",
            "n_tokens",
            "n_removed_tokens",
            (F.col("n_tokens") - F.col("n_removed_tokens")).alias("n_kept_tokens"),
            F.expr("((n_tokens - n_removed_tokens) * 1000000) div n_tokens").alias(
                "kept_frac_e6"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "x2_exact_substr_cross_source",
    oracle=f"""
    SELECT LEAST(sa.source, sb.source) AS source_lo,
           GREATEST(sa.source, sb.source) AS source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_doc_pairs,
           CAST(SUM(j.n_spans) AS BIGINT) AS n_spans,
           CAST(MAX(j.max_span_tokens) AS BIGINT) AS max_span_tokens
    FROM ({_SPANS_ORACLE}) j
    JOIN documents sa ON sa.doc_id = j.doc_a
    JOIN documents sb ON sb.doc_id = j.doc_b
    GROUP BY source_lo, source_hi
    ORDER BY source_lo, source_hi
    """,
    survey_ids=("X2", "J1", "A1"),
)
def x2_exact_substr_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication provenance: which SOURCES share exact spans — the
    rollup a curation team reads before deciding which feed to trim
    (within-source template reuse vs cross-source scraping show up as
    different cells). Per unordered source pair: duplicate doc-pair
    count, total spans, longest span.

    Built directly on `x2_exact_substr_spans`' pair relation (same
    winnowing-lossless candidate stage); the source join broadcasts
    the doc→source mapping only for the pair endpoints, and the final
    rollup is |sources|²-bounded."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = x2_exact_substr_spans(spark, sf_dir)
    j = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
            ),
            "doc_b",
        )
    )
    return (
        j.groupBy(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_doc_pairs"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.max("max_span_tokens").cast("long").alias("max_span_tokens"),
        )
        .orderBy("source_lo", "source_hi")
    )


def _jaccard_oracle() -> str:
    """The registered x2_ngram_jaccard_pairs oracle, reused verbatim
    as a derived table (registry lookup keeps the two definitions from
    drifting apart)."""
    import etl_generator_demo_spark.operators.dedup  # noqa: F401  (registers it)

    from ..registry import REGISTRY

    return REGISTRY["x2_ngram_jaccard_pairs"].oracle


@register(
    "x2_dedup_methods_agreement",
    oracle=f"""
    WITH jp AS (SELECT doc_a, doc_b FROM ({_jaccard_oracle()})),
    sp AS (SELECT doc_a, doc_b FROM ({_SPANS_ORACLE})),
    f AS (
        SELECT jp.doc_a IS NOT NULL AS in_j,
               sp.doc_a IS NOT NULL AS in_s
        FROM jp FULL OUTER JOIN sp
          ON jp.doc_a = sp.doc_a AND jp.doc_b = sp.doc_b
    ),
    c AS (
        SELECT CAST(SUM(CASE WHEN in_j THEN 1 ELSE 0 END) AS BIGINT) AS n_j,
               CAST(SUM(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_s,
               CAST(SUM(CASE WHEN in_j AND in_s THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_both
        FROM f
    )
    SELECT n_j AS n_jaccard_pairs, n_s AS n_substr_pairs, n_both,
           n_j - n_both AS n_jaccard_only,
           n_s - n_both AS n_substr_only,
           CAST(n_both * 1000000 // NULLIF(n_j + n_s - n_both, 0) AS BIGINT)
               AS agreement_e6
    FROM c
    """,
    survey_ids=("X2", "J4", "A2"),
)
def x2_dedup_methods_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Methods-agreement audit between the two dedup tiers: exact
    5-gram Jaccard >= 0.5 (the SET-similarity view — order-insensitive,
    whole-document) vs exact shared spans >= 8 tokens (the SEQUENCE
    view — order-sensitive, local). Jaccard-only pairs are shuffled/
    paraphrase-order rewrites; substring-only pairs share a long quote
    inside otherwise-different documents — exactly the split a
    curation policy treats differently (drop vs trim). One row:
    both/either counts and the Jaccard-of-pair-sets agreement ratio.

    Plan: both pair relations are the already-bounded pipelines
    (inverted-index join; winnowing-lossless verify); the audit full
    outer join operates on pair relations orders of magnitude smaller
    than the corpus, and the final aggregate is one row."""
    from .dedup import x2_ngram_jaccard_pairs

    jac = x2_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sub = x2_exact_substr_spans(spark, sf_dir).select("doc_a", "doc_b")
    f = jac.withColumn("in_j", F.lit(True)).join(
        sub.withColumn("in_s", F.lit(True)), ["doc_a", "doc_b"], "full"
    )
    c = f.agg(
        F.sum(F.col("in_j").isNotNull().cast("long"))
        .cast("long")
        .alias("n_j"),
        F.sum(F.col("in_s").isNotNull().cast("long"))
        .cast("long")
        .alias("n_s"),
        F.sum((F.col("in_j").isNotNull() & F.col("in_s").isNotNull()).cast("long"))
        .cast("long")
        .alias("n_both"),
    )
    return c.select(
        F.col("n_j").alias("n_jaccard_pairs"),
        F.col("n_s").alias("n_substr_pairs"),
        "n_both",
        (F.col("n_j") - F.col("n_both")).alias("n_jaccard_only"),
        (F.col("n_s") - F.col("n_both")).alias("n_substr_only"),
        F.expr(
            "(n_both * 1000000) div nullif(n_j + n_s - n_both, 0)"
        ).alias("agreement_e6"),
    )


#: Hot-fingerprint cap for the guarded spans variant: fingerprints in
#: more than FP_CAP distinct docs are boilerplate by definition and
#: excluded from candidate generation (the Adamic-Adar hub-cap
#: discipline applied to the dedup index). 2 bites on the fixture
#: (max observed fp doc-frequency is 3-4), so the guarded result
#: genuinely differs from the lossless one and the oracle must
#: replicate the cap, not just the verify.
FP_CAP = 2


def _winnow_oracle() -> str:
    """The registered x4_winnowing_fingerprints oracle, reused
    verbatim as a derived table (registry lookup — definitions can't
    drift)."""
    import etl_generator_demo_spark.operators.textops  # noqa: F401

    from ..registry import REGISTRY

    return REGISTRY["x4_winnowing_fingerprints"].oracle


@register(
    "x2_exact_substr_spans_capped",
    oracle=f"""
    WITH wf AS (SELECT doc_id, fp FROM ({_winnow_oracle()})),
    keepfp AS (
        SELECT fp FROM wf GROUP BY fp
        HAVING COUNT(DISTINCT doc_id) <= {FP_CAP}
    ),
    wfc AS (SELECT wf.doc_id, wf.fp FROM wf JOIN keepfp USING (fp)),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM wfc a JOIN wfc b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    {_DUCK_KGRAMS},
    m AS (
        SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        FROM kg a
        JOIN kg b ON a.h = b.h AND a.doc_id < b.doc_id
        JOIN cand c ON c.da = a.doc_id AND c.db = b.doc_id
    ),
    r AS (
        SELECT da, db, pa,
               pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb
                                       ORDER BY pa) AS grp,
               pa - pb AS diag
        FROM m
    ),
    s AS (
        SELECT da, db, CAST(COUNT(*) + {SPAN_K - 1} AS BIGINT) AS span_tokens
        FROM r GROUP BY da, db, diag, grp
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
    FROM s WHERE span_tokens >= {SPAN_T}
    GROUP BY da, db
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2", "J1", "W1", "A1"),
)
def x2_exact_substr_spans_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION spelling of the duplicate-span detector: the
    hot-fingerprint cap ON (fps in > FP_CAP docs excluded from
    candidate generation — they are boilerplate by definition, and at
    100 TB they are the only super-linear key in the pipeline). The
    semantics intentionally differ from the lossless
    `x2_exact_substr_spans`: only pairs reachable through a NON-HOT
    shared fingerprint are verified — the guarded-LSH discipline
    (`x2_minhash_lsh_pairs_guarded`), with the pruning itself
    hash-verified because the oracle replays winnowing + cap + verify
    from the same md5 constants. On the fixture the cap of 2
    genuinely removes candidates (max fp doc-frequency 3-4), so the
    check proves the cap's exact effect, not a no-op."""
    docs = t(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(docs)
    keep = (
        fps.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") <= FP_CAP)
        .select("fp")
    )
    return _verified_span_pairs(docs, fps.join(keep, "fp")).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# removal -> rematerialize: the corpus after ExactSubstr dedup
# ---------------------------------------------------------------------------

def removed_positions(kg: DataFrame) -> DataFrame:
    """(doc_id, pos) for every token position the keep-first ExactSubstr
    policy deletes: each cross-doc duplicated K-gram hash is owned by
    its minimum doc_id; all K positions of every non-owner occurrence
    are removed (`x2_dup_span_removal` counts these; here the explicit
    position SET feeds the rebuild). Linear: ≤ K rows per removal
    start, keyed h then doc_id."""
    own = (
        kg.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "owner")
    )
    starts = (
        kg.join(own, "h")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "pos")
    )
    return starts.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_K - 1))
        ).alias("pos"),
    ).distinct()


def rematerialized_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tk) of the corpus AFTER removal — original token
    positions, removed ones anti-joined away. The shared head of both
    rematerialize queries."""
    rp = removed_positions(kgram_hashes(docs))
    return doc_token_positions(docs, "doc_id").join(rp, ["doc_id", "pos"], "left_anti")


#: Shared oracle CTE chain: kept = post-removal (doc_id, pos, tk).
_DUCK_KEPT = f"""
    {_DUCK_KGRAMS},
    own AS (
        SELECT h, MIN(doc_id) AS owner
        FROM kg GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    rs AS (
        SELECT kg.doc_id, kg.pos
        FROM kg JOIN own USING (h)
        WHERE kg.doc_id <> own.owner
    ),
    rp AS (
        SELECT DISTINCT rs.doc_id, rs.pos + g.g AS pos
        FROM rs CROSS JOIN generate_series(0, {SPAN_K - 1}) AS g(g)
    ),
    kept AS (
        SELECT tok.doc_id, tok.pos, tok.tk
        FROM tok ANTI JOIN rp ON rp.doc_id = tok.doc_id AND rp.pos = tok.pos
    )
"""


@register(
    "x2_removal_rematerialize",
    oracle=f"""
    WITH {_DUCK_KEPT},
    ka AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept_tokens,
               STRING_AGG(tk, ' ' ORDER BY pos) AS kept_text
        FROM kept GROUP BY doc_id
    ),
    nt AS (
        SELECT doc_id,
               CAST({_duck_n_tokens()} AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT nt.doc_id, nt.n_tokens,
           COALESCE(ka.n_kept_tokens, 0) AS n_kept_tokens,
           ka.kept_text
    FROM nt LEFT JOIN ka USING (doc_id)
    ORDER BY nt.doc_id
    """,
    survey_ids=("X2", "J5", "A1", "F6"),
)
def x2_removal_rematerialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup APPLY → REBUILD: the re-materialized corpus a
    training pipeline actually writes out (Lee et al. 2022 cut the
    duplicated spans, then re-join what survives). Per document: the
    original token count, the post-removal count, and the rebuilt text
    (kept tokens re-joined in original order; NULL when removal
    consumed the whole document — the caller's drop signal).

    Composes `x2_dup_span_removal`'s keep-first policy with the
    rebuild: removed POSITIONS are the K-expansion of every non-owner
    occurrence start, materialized once (≤ K rows per start, distinct).

    Decide with small rows, move big rows once: the decisions are just
    the removed-position set (doc-keyed and removal-sized), so only
    THAT is aggregated (collect_set per doc) and joined back to the
    document relation, and the rebuild is map-side array arithmetic
    over the original split: kept positions = array_except(sequence(0,
    n-1), removed), kept_text = the re-join of those elements. Token
    bytes never enter an exchange (exploding the corpus into
    (doc_id, pos, tk) rows and re-aggregating would shuffle every
    token twice); array_except is membership-based, so collect_set
    order cannot matter, and a fully removed doc yields size 0 → NULL
    kept_text. The boundary audit
    (`x2_rematerialize_boundary_audit`) still proves removal
    completeness on the token relation spelling."""
    docs = t(spark, sf_dir, "documents")
    rem = (
        removed_positions(kgram_hashes(docs))
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_rem"))
    )
    toks = ws_split()
    kept_pos = F.array_except(
        F.sequence(F.lit(0), F.size("_toks") - 1),
        F.coalesce(F.col("_rem"), F.array().cast("array<int>")),
    )
    kept_toks = F.transform(kept_pos, lambda i: F.element_at(F.col("_toks"), i + 1))
    return (
        docs.select("doc_id", toks.alias("_toks"))
        .join(rem, "doc_id", "left")
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            kept_toks.alias("_kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("_kept").cast("long").alias("n_kept_tokens"),
            F.when(F.size("_kept") > 0, F.array_join("_kept", " ")).alias(
                "kept_text"
            ),
        )
        .orderBy("doc_id")
    )


def _rema_gram_tail(k: int) -> str:
    """Oracle tail: K-grams over the REBUILT corpus with the original
    positional span of each gram window carried along."""
    leads = "".join(f"|| '_' || LEAD(tk, {i}) OVER w " for i in range(1, k))
    return f"""
    kept2 AS (
        SELECT doc_id, pos AS opos, tk,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS np
        FROM kept
    ),
    rg0 AS (
        SELECT doc_id,
               MD5(tk {leads}) AS h2,
               LEAD(opos, {k - 1}) OVER w - opos AS ospan
        FROM kept2 WINDOW w AS (PARTITION BY doc_id ORDER BY np)
    ),
    rg AS (SELECT doc_id, h2, ospan FROM rg0 WHERE h2 IS NOT NULL),
    dup AS (
        SELECT h2,
               MAX(CASE WHEN ospan > {k - 1} THEN 1 ELSE 0 END) AS any_boundary
        FROM rg GROUP BY h2 HAVING COUNT(DISTINCT doc_id) >= 2
    )
    """


@register(
    "x2_rematerialize_boundary_audit",
    oracle=f"""
    WITH {_DUCK_KEPT},
    {_rema_gram_tail(SPAN_K).strip().rstrip()}
    ,
    cut AS (SELECT COUNT(DISTINCT doc_id) AS n_docs_cut FROM rp),
    tot AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_tokens_total
        FROM tok
    ),
    kt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_kept_total FROM kept),
    dd AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS residual_dup_hashes,
               CAST(COALESCE(SUM(any_boundary), 0) AS BIGINT)
                   AS boundary_dup_hashes
        FROM dup
    )
    SELECT tot.n_docs, CAST(cut.n_docs_cut AS BIGINT) AS n_docs_cut,
           tot.n_tokens_total, kt.n_kept_total,
           dd.residual_dup_hashes, dd.boundary_dup_hashes,
           dd.residual_dup_hashes - dd.boundary_dup_hashes
               AS intact_dup_hashes
    FROM tot CROSS JOIN cut CROSS JOIN kt CROSS JOIN dd
    """,
    survey_ids=("X2", "A2", "W3"),
)
def x2_rematerialize_boundary_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cut-boundary invariant of the rematerialized corpus — the PROOF
    that the removal pass did its job. Re-runs K-gram extraction over
    the REBUILT corpus and classifies every residual cross-doc
    duplicated gram by its ORIGINAL positional span: a gram whose K
    kept tokens were originally adjacent (span K-1) is an "intact"
    survivor; a wider span means the gram straddles a cut (tokens made
    adjacent by deletion — a boundary artifact, expected and benign).

    Invariant: ``intact_dup_hashes = 0``. Proof sketch: an intact
    residual gram is an ORIGINAL gram with all K positions kept; every
    non-owner occurrence of a cross-doc duplicated hash has all K
    positions removed by construction, so a hash can survive intact in
    at most its one owner doc — never in two. Residual cross-doc dups
    can therefore only involve a boundary gram. Pinned both by this
    oracle row and by tests/test_dedup_substr.py on planted data.

    Plan: the kept relation flows into one per-doc renumber window +
    the same gram window as `kgram_hashes` (carrying the original-position
    span), then a groupBy(h2) rollup — linear in kept tokens, output
    one row."""
    docs = t(spark, sf_dir, "documents")
    tok = doc_token_positions(docs, "doc_id")
    rp = removed_positions(kgram_hashes(docs))
    kept = tok.join(rp, ["doc_id", "pos"], "left_anti")

    wnp = Window.partitionBy("doc_id").orderBy("pos")
    kept2 = kept.select(
        "doc_id",
        F.col("pos").alias("opos"),
        "tk",
        F.row_number().over(wnp).alias("np"),
    )
    w = Window.partitionBy("doc_id").orderBy("np")
    gram = F.concat_ws(
        "_", F.col("tk"), *[F.lead("tk", i).over(w) for i in range(1, SPAN_K)]
    )
    rg = kept2.select(
        "doc_id",
        F.when(
            F.lead("tk", SPAN_K - 1).over(w).isNotNull(), F.md5(gram)
        ).alias("h2"),
        (F.lead("opos", SPAN_K - 1).over(w) - F.col("opos")).alias("ospan"),
    ).filter(F.col("h2").isNotNull())
    dup = (
        rg.groupBy("h2")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.max(
                F.when(F.col("ospan") > SPAN_K - 1, 1).otherwise(0)
            ).alias("any_boundary"),
        )
        .filter(F.col("nd") >= 2)
    )

    tot = tok.agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_total"),
    )
    cut = rp.agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs_cut")
    )
    kt = kept.agg(F.count(F.lit(1)).cast("long").alias("n_kept_total"))
    dd = dup.agg(
        F.count(F.lit(1)).cast("long").alias("residual_dup_hashes"),
        F.coalesce(F.sum("any_boundary"), F.lit(0))
        .cast("long")
        .alias("boundary_dup_hashes"),
    )
    return (
        tot.crossJoin(F.broadcast(cut))
        .crossJoin(F.broadcast(kt))
        .crossJoin(F.broadcast(dd))
        .select(
            "n_docs",
            "n_docs_cut",
            "n_tokens_total",
            "n_kept_total",
            "residual_dup_hashes",
            "boundary_dup_hashes",
            (
                F.col("residual_dup_hashes") - F.col("boundary_dup_hashes")
            ).alias("intact_dup_hashes"),
        )
    )


# ---------------------------------------------------------------------------
# what dedup did to the corpus: unigram distribution shift
# ---------------------------------------------------------------------------

def _dedup_shift_oracle() -> str:
    return f"""
    WITH {_DUCK_KEPT},
    pre AS (
        SELECT tk, n AS c_pre FROM ({_duck_token_counts()})
    ),
    post AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS c_post FROM kept GROUP BY tk
    ),
    np AS (SELECT CAST(SUM(c_pre) AS BIGINT) AS n_pre FROM pre),
    nq AS (SELECT CAST(SUM(c_post) AS BIGINT) AS n_post FROM post),
    kl AS (
        SELECT CAST(SUM(post.c_post * CAST(FLOOR(LN(
                   (post.c_post * 1.0 * np.n_pre)
                   / (pre.c_pre * 1.0 * nq.n_post)
               ) * 1000000) AS BIGINT)) AS BIGINT) AS kl_num
        FROM post JOIN pre USING (tk) CROSS JOIN np CROSS JOIN nq
    )
    SELECT np.n_pre AS n_tokens_pre,
           nq.n_post AS n_tokens_post,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pre) AS n_types_pre,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM post) AS n_types_post,
           CAST(GREATEST(kl.kl_num, 0) // nq.n_post AS BIGINT) AS kl_post_pre_e6
    FROM np CROSS JOIN nq CROSS JOIN kl
    """


@register(
    "x2_dedup_distribution_shift",
    oracle=_dedup_shift_oracle(),
    survey_ids=("X2", "X4", "A1", "F6"),
)
def x2_dedup_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup DID to the corpus: the unigram-distribution shift
    across the ExactSubstr removal (`x2_removal_rematerialize`'s kept
    tokens vs the original), reported as KL(post || pre) in nats e6 —
    the audit that catches a dedup pass silently skewing the token
    distribution (duplicated boilerplate is exactly the high-frequency
    mass removal deletes, so some shift is EXPECTED; a large one means
    the dedup policy rewrote the corpus's statistics, which downstream
    LM quality scores inherit). Kept tokens are a subset of the
    original, so every post type exists in pre — KL is finite by
    construction, no smoothing needed.

    Per-type ln floored to e6 then exact integer sums (the
    `x4_entropy_per_source` discipline); one token scan feeds both
    distributions (the kept side reuses the rematerialize pipeline's
    anti-join). Output: one row — token/type counts both sides + the
    divergence."""
    docs = t(spark, sf_dir, "documents")
    pre = token_counts(docs).withColumnRenamed("n", "c_pre")
    post = (
        rematerialized_tokens(docs)
        .groupBy("tk")
        .agg(F.count(F.lit(1)).cast("long").alias("c_post"))
    )
    np_ = pre.agg(
        F.sum("c_pre").cast("long").alias("n_pre"),
        F.count(F.lit(1)).cast("long").alias("n_types_pre"),
    )
    nq_ = post.agg(
        F.sum("c_post").cast("long").alias("n_post"),
        F.count(F.lit(1)).cast("long").alias("n_types_post"),
    )
    kl = (
        post.join(pre, "tk")
        .crossJoin(F.broadcast(np_.select("n_pre")))
        .crossJoin(F.broadcast(nq_.select("n_post")))
        .select(
            (
                F.col("c_post")
                * F.floor(
                    F.log(
                        (F.col("c_post") * F.lit(1.0) * F.col("n_pre"))
                        / (F.col("c_pre") * F.lit(1.0) * F.col("n_post"))
                    )
                    * 1_000_000
                ).cast("long")
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("kl_num"))
    )
    return (
        np_.crossJoin(nq_)
        .crossJoin(F.broadcast(kl))
        .select(
            F.col("n_pre").alias("n_tokens_pre"),
            F.col("n_post").alias("n_tokens_post"),
            "n_types_pre",
            "n_types_post",
            # GREATEST(kl_num, 0): the per-type ln floors can push the
            # numerator slightly negative when the true KL ≈ 0, and
            # Spark's `div` truncates toward zero while DuckDB's `//`
            # floors — clamping at the mathematical lower bound (KL ≥ 0)
            # makes the spellings identical in both engines.
            F.expr("CAST(GREATEST(kl_num, 0) div n_post AS LONG)").alias(
                "kl_post_pre_e6"
            ),
        )
    )
