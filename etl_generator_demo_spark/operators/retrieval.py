"""Full-text retrieval primitives over the documents corpus: BM25 and
Dirichlet query-likelihood scoring (one term score each, with its
DuckDB twin beside it) and PMI co-occurrence — the query-side
counterpart of the text-analysis suite (SURVEY §2.12 X4; the reference's corpora live in
PostgreSQL where this is `ts_rank`/pg_trgm territory, reimagined
Spark-first for a 100 TB corpus).

Float determinism contract (same as ``textops``): every score is
derived from exact integer counts through ONE identically-shaped
double expression in both engines, then floor-scaled to 1e-6 and
summed as BIGINT — integer summation is order-independent, so the
oracle hash never depends on aggregation order. The only cross-engine
float risk is last-ulp `ln` differences (JVM Math.log vs libm), which
the floor scale makes vanishingly unlikely to flip.

Scale shape: token explode + map-combined groupBys (tf, df, doc
length); the per-term stats relation is vocabulary-sized and
broadcast; the only corpus-sized shuffles are keyed on doc_id. No
all-pairs stage anywhere — PMI pairs are generated per-document from
a top-K vocabulary (≤ C(K,2) pairs per doc, linear in corpus size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.ann_index import (
    _duck_lsh_match,
    lsh_probe_topk,
)
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.operators.similarity import (
    _duck_cos_e6,
    _duck_q0,
    query_vector,
)
from etl_generator_demo_spark.operators.tokens import doc_tokens
from etl_generator_demo_spark.registry import register

#: BM25 hyperparameters (the Robertson/Sparck-Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75
#: Fixed query — deterministic, present at every SF in the fixture vocab.
BM25_QUERY_TERMS = ("vector", "spark", "window")
BM25_TOP_K = 20

#: PMI vocabulary cap: pairs are only generated within the top-K
#: document-frequency terms, bounding per-doc pair fan-out at C(K,2).
PMI_VOCAB_K = 20

#: Dirichlet pseudo-count. The textbook 2000 assumes ~500-token web
#: docs; fixture docs average ~45 tokens, so mu is set near avgdl
#: (the standard mu ~ avgdl rule) to keep the smoothing meaningful.
QL_MU = 50


def bm25_term_e6() -> Column:
    """floor(1e6 · BM25 term score) over the columns ``tf``, ``df``,
    ``dl``, ``n_docs`` and ``total_len``: idf in the +1 'BM25+' form
    ln(1 + (N − df + 0.5)/(df + 0.5)), saturation k1, length
    normalization b against avgdl = total_len / n_docs."""
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    score = (idf * (F.col("tf") * (BM25_K1 + 1))) / (
        F.col("tf")
        + BM25_K1 * (F.lit(1) - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    return F.floor(score * 1000000).cast("long")


def _duck_bm25_term_e6(tf: str, df: str, dl: str, n_docs: str, total_len: str) -> str:
    """Oracle twin of :func:`bm25_term_e6` over the named columns."""
    return f"""CAST(FLOOR(
                   (LN(1 + ({n_docs} - {df} + 0.5) / ({df} + 0.5))
                    * ({tf} * {BM25_K1 + 1}))
                   / ({tf} + {BM25_K1} * (1 - {BM25_B}
                      + {BM25_B} * {dl} / (CAST({total_len} AS DOUBLE) / {n_docs})))
                   * 1000000) AS BIGINT)"""


def ql_term_e6() -> Column:
    """floor(1e6 · ln p(t|d)) under Dirichlet smoothing over the
    columns ``tf`` (NULL when the term is absent from the document),
    ``ctf``, ``total_len`` (collection length) and ``dl``:
    p(t|d) = (tf + μ·ctf/|C|) / (dl + μ)."""
    tf = F.coalesce(F.col("tf"), F.lit(0))
    p_coll = F.col("ctf") * F.lit(1.0) / F.col("total_len")
    return F.floor(
        F.log((tf + QL_MU * p_coll) / (F.col("dl") + QL_MU)) * 1_000_000
    ).cast("long")


def _duck_ql_term_e6(tf: str, ctf: str, total_len: str, dl: str) -> str:
    """Oracle twin of :func:`ql_term_e6` over the named columns."""
    return f"""CAST(FLOOR(LN(
                   (COALESCE({tf}, 0)
                    + {QL_MU} * ({ctf} * 1.0 / {total_len}))
                   / ({dl} + {QL_MU})
               ) * 1000000) AS BIGINT)"""


def bm25_collection(docs: DataFrame):
    """``(tok, dl, stats)``: the BM25 collection statistics of ``docs`` —
    one ``(doc_id, term)`` row per space-separated token, the document
    lengths ``(doc_id, dl)`` and the one-row ``(n_docs, total_len)``."""
    tok = doc_tokens(docs, "doc_id", tk="term")
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len"))
    return tok, dl, stats


def bm25_term_scores(tf: DataFrame, dl: DataFrame, stats: DataFrame) -> DataFrame:
    """``(doc_id, term_score_e6)`` for each ``(doc_id, term, tf)`` row:
    df is counted over ``tf`` (query-sized, broadcast), the document
    length joins on doc_id and the collection row is broadcast."""
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", bm25_term_e6().alias("term_score_e6"))
    )


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{x}'" for x in BM25_QUERY_TERMS)
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT)  AS total_len
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
    )
    SELECT doc_id,
           CAST(SUM(term_score_e6) AS BIGINT) AS bm25_e6,
           CAST(COUNT(*) AS BIGINT)           AS n_terms_hit
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25_e6 DESC, doc_id
    LIMIT {BM25_TOP_K}
    """


@register("x4_bm25_topk", oracle=_bm25_oracle(), survey_ids=("X4",))
def x4_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed 3-term query.

    idf uses the +1 'BM25+'-style form ln(1 + (N-df+0.5)/(df+0.5)) so
    scores stay positive even for terms in >half the corpus (this
    fixture's vocab is tiny, so every term is common). Per-term scores
    are floor-scaled to integer micro-units BEFORE the per-doc sum —
    SUM(BIGINT) is order-independent, so the final hash is immune to
    Spark/DuckDB aggregation-order float wobble.

    Plan at scale: tf is filtered to the query terms at the explode
    (map-side, before any shuffle), dfreq is query-sized and
    broadcast, stats is one scalar row; the only corpus-keyed shuffle
    joins tf to doc lengths on doc_id. Top-k compiles to
    TakeOrderedAndProject."""
    tok, dl, stats = bm25_collection(t(spark, sf_dir, "documents"))
    tf = (
        tok.filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        bm25_term_scores(tf, dl, stats)
        .groupBy("doc_id")
        .agg(
            F.sum("term_score_e6").cast("long").alias("bm25_e6"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25_e6"), "doc_id")
        .limit(BM25_TOP_K)
    )


def _pmi_oracle() -> str:
    return f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dt),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY term),
    vocab AS (SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT {PMI_VOCAB_K}),
    dv AS (SELECT dt.doc_id, dt.term FROM dt JOIN vocab USING (term)),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY a.term, b.term
    )
    SELECT p.term_a, p.term_b, p.n_ab,
           CAST(FLOOR(LN((p.n_ab * n.n_docs) / CAST(va.df * vb.df AS DOUBLE))
                      * 1000000) AS BIGINT) AS pmi_e6
    FROM pairs p
    JOIN vocab va ON va.term = p.term_a
    JOIN vocab vb ON vb.term = p.term_b
    CROSS JOIN n
    ORDER BY term_a, term_b
    """


@register("x4_pmi_cooccurrence", oracle=_pmi_oracle(), survey_ids=("X4",))
def x4_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over term pairs co-occurring in a
    document — the phrase-mining / collocation primitive. PMI =
    ln(P(a,b) / (P(a)P(b))) computed as ln((n_ab·N) / (df_a·df_b)):
    every operand inside the log is an exact integer product, so both
    engines feed `ln` bit-identical doubles.

    The pair stage is bounded, not quadratic: only the top-{PMI_VOCAB_K}
    document-frequency terms participate (vocab broadcast), so each doc
    emits at most C({PMI_VOCAB_K},2) pairs — linear in corpus size, and
    the self-join is co-keyed on doc_id (no shuffle beyond the distinct).
    Each side of the self-join carries its term's df from the vocab
    broadcast, and the document count N is one in-plan row. The
    ``doc_id IS NOT NULL`` filter is explicit, below the distinct:
    Spark would otherwise infer it on the pair sides only, and shuffle
    the same ``(doc_id, term)`` relation through a second exchange for
    the df side."""
    docs = t(spark, sf_dir, "documents")
    dt = (
        doc_tokens(docs, "doc_id", tk="term")
        .filter(F.col("doc_id").isNotNull())
        .distinct()
    )
    n = dt.agg(F.count_distinct("doc_id").alias("n_docs"))
    dfreq = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfreq.orderBy(F.desc("df"), "term").limit(PMI_VOCAB_K)

    def side(s: str) -> DataFrame:
        v = vocab.select(F.col("term").alias(f"term_{s}"), F.col("df").alias(f"df_{s}"))
        return dt.withColumnRenamed("term", f"term_{s}").join(F.broadcast(v), f"term_{s}")

    pairs = (
        side("a")
        .join(side("b"), ["doc_id"])
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    pmi = F.log(
        (F.col("n_ab") * F.col("n_docs")) / (F.col("df_a") * F.col("df_b")).cast("double")
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.floor(pmi * 1000000).cast("long").alias("pmi_e6"),
        )
        .coalesce(1)  # at most C(PMI_VOCAB_K, 2) rows: sorted in place
        .orderBy("term_a", "term_b")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 + ANN
# ---------------------------------------------------------------------------

#: RRF constant (Cormack/Clarke/Buettcher 2009's k=60), per-half pool
#: depth, and fused result size. RRF terms are exact integers
#: (1e9 // (k + rank)) so the fusion hashes across engines.
RRF_K = 60
RRF_POOL = 20
RRF_TOP = 10


def _rrf_oracle() -> str:
    return f"""
    WITH bm_top AS ( {_bm25_oracle()} ),
    bmr AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25_e6 DESC, doc_id) AS r_bm
        FROM bm_top
    ),
    {_duck_q0()},
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id <> 0
    ),
    ann_top AS (
        SELECT e.vec_id,
               {_duck_cos_e6("e.v", "q.qv")} / 1000000 AS cosine
        FROM e, q
        WHERE {_duck_lsh_match("e.v", "q.qv", 0)}
        ORDER BY cosine DESC, vec_id
        LIMIT {RRF_POOL}
    ),
    annr AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS r_ann
        FROM ann_top
    ),
    fused AS (
        SELECT COALESCE(b.doc_id, a.vec_id) AS doc_id, b.r_bm, a.r_ann
        FROM bmr b FULL OUTER JOIN annr a ON b.doc_id = a.vec_id
    )
    SELECT doc_id,
           CAST(r_bm AS BIGINT) AS bm25_rank,
           CAST(r_ann AS BIGINT) AS ann_rank,
           CAST(COALESCE(1000000000 // ({RRF_K} + r_bm), 0)
                + COALESCE(1000000000 // ({RRF_K} + r_ann), 0) AS BIGINT)
               AS rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT {RRF_TOP}
    """


@register(
    "x4_rrf_hybrid_topk",
    oracle=_rrf_oracle(),
    survey_ids=("X4", "X3", "W1", "J4", "O4"),
)
def x4_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    half (fixed 3-term query, `x4_bm25_topk`'s scoring) and the ANN
    semantic half (vec_id 0's embedding through the persisted
    partition-pruned LSH index, `x3_ann_lsh_probe`'s path) — the
    serving composition every RAG pipeline runs. The fixture links the
    two id spaces 1:1 (vec_id i is the embedding of doc_id i).

    RRF (Cormack et al. 2009): score(d) = Σ_halves 1/(k + rank_d),
    k=60, carried as exact integer 1e9//(k+rank) terms so the fused
    ordering hashes identically in both engines; a doc ranked in only
    one half scores that half alone (full outer join, the other rank
    NULL → 0 — so a doc top-ranked in either half survives fusion).

    Scale: each half is already bounded — BM25 ends in a
    TakeOrderedAndProject over map-filtered term stats, the LSH probe
    reads only the query's 8 bucket directories — and the fusion
    operates on two pool-sized (<= 20 row) relations: the rank windows
    sort a pool, never a corpus, so the whole fusion stage is
    broadcast-trivial at any corpus size."""
    from pyspark.sql.window import Window

    bm = x4_bm25_topk(spark, sf_dir).select("doc_id", "bm25_e6")
    # pool-bounded global window: <= RRF_POOL rows after the top-k
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_e6"), "doc_id"))
        .alias("r_bm"),
    )
    emb = t(spark, sf_dir, "embeddings")
    ann = lsh_probe_topk(spark, sf_dir, query_vector(emb), k=RRF_POOL, exclude_ids=(0,)).select(
        "vec_id", "cosine"
    )
    annr = ann.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "vec_id"))
        .alias("r_ann"),
    )
    return (
        bmr.join(annr, "doc_id", "full")
        .select(
            "doc_id",
            F.col("r_bm").cast("long").alias("bm25_rank"),
            F.col("r_ann").cast("long").alias("ann_rank"),
            (
                F.coalesce(F.expr(f"1000000000 div ({RRF_K} + r_bm)"), F.lit(0))
                + F.coalesce(F.expr(f"1000000000 div ({RRF_K} + r_ann)"), F.lit(0))
            )
            .cast("long")
            .alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(RRF_TOP)
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking
# ---------------------------------------------------------------------------

#: MMR trade-off λ = 0.7 carried as the exact integer numerator
#: 7·qsim − 3·max_redundancy (argmax is scale-invariant, so the /10
#: never happens); pool depth and selection size.
MMR_POOL = 20
MMR_SELECT = 5


def _mmr_oracle() -> str:
    steps = [
        f"""
    s1 AS (SELECT vec_id, qsim_e6, 7 * qsim_e6 AS mmr_num_e6
           FROM pool ORDER BY qsim_e6 DESC, vec_id LIMIT 1),
    a1 AS (SELECT vec_id FROM s1)"""
    ]
    for k in range(2, MMR_SELECT + 1):
        steps.append(f"""
    s{k} AS (
        SELECT c.vec_id, c.qsim_e6,
               7 * c.qsim_e6
               - 3 * (SELECT MAX(p.sim_e6) FROM pair p
                      WHERE p.i = c.vec_id
                        AND p.j IN (SELECT vec_id FROM a{k - 1})) AS mmr_num_e6
        FROM pool c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM a{k - 1})
        ORDER BY mmr_num_e6 DESC, c.vec_id LIMIT 1
    ),
    a{k} AS (SELECT vec_id FROM a{k - 1} UNION ALL SELECT vec_id FROM s{k})""")
    union = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS rnk, vec_id, qsim_e6, mmr_num_e6 FROM s{k}"
        for k in range(1, MMR_SELECT + 1)
    )
    return f"""
    WITH {_duck_q0()},
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0),
    cand AS (SELECT e.vec_id, e.v, q.qv FROM e, q WHERE {_duck_lsh_match("e.v", "q.qv", 0)}),
    pool AS MATERIALIZED (
        SELECT vec_id, v, {_duck_cos_e6("v", "qv")} AS qsim_e6
        FROM cand ORDER BY qsim_e6 DESC, vec_id LIMIT {MMR_POOL}
    ),
    pair AS MATERIALIZED (
        SELECT a.vec_id AS i, b.vec_id AS j, {_duck_cos_e6("a.v", "b.v")} AS sim_e6
        FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),
    {",".join(steps)}
    SELECT rnk, vec_id, qsim_e6, mmr_num_e6 FROM ({union})
    ORDER BY rnk
    """


@register(
    "x3_mmr_diversified_topk",
    oracle=_mmr_oracle(),
    survey_ids=("X3", "O4", "W1"),
)
def x3_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity pass a RAG retriever runs on its ANN pool so
    the context window isn't five near-copies of one passage: greedily
    select argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) with λ=0.7,
    carried as the exact integer numerator 7·qsim_e6 − 3·redund_e6
    (argmax is scale-invariant; ties break to the smaller vec_id).

    Plan: the pool is the SAME hash-exact partition-pruned LSH probe
    as `x3_ann_lsh_probe`/RRF (top-20 by floored cosine) — the corpus
    is never scanned; the greedy runs driver-side over the collected
    pool, a bounded model fetch (≤ 20×dim floats — the k-means
    centroid idiom), with sims computed in the identical
    sequential-fold double arithmetic both engines use
    (dot / (√na·√nb), floored at e6). The oracle recomputes the pool
    from the same hyperplane constants and unrolls the 5-step greedy,
    so the diversified ranking is value-checked row for row."""
    import math

    emb = t(spark, sf_dir, "embeddings")
    qv = query_vector(emb)
    pool_rows = (
        lsh_probe_topk(spark, sf_dir, qv, k=MMR_POOL, exclude_ids=(0,))
        .select("vec_id", "embedding")
        .collect()  # bounded: pool size <= MMR_POOL rows of dim floats
    )
    pool = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in pool_rows]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):  # sequential fold == both engines
            s += x * y
        return s

    def cos_e6(a, b):
        return int(
            math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
                       * 1000000)
        )

    qsim = {i: cos_e6(v, qv) for i, v in pool}
    vecs = dict(pool)
    selected: list[tuple[int, int, int]] = []  # (vec_id, qsim, mmr_num)
    chosen: list[int] = []
    for _ in range(min(MMR_SELECT, len(pool))):
        best = None
        for i, v in pool:
            if i in chosen:
                continue
            if chosen:
                red = max(cos_e6(v, vecs[j]) for j in chosen)
                num = 7 * qsim[i] - 3 * red
            else:
                num = 7 * qsim[i]
            key = (-num, i)
            if best is None or key < best[0]:
                best = (key, i, num)
        chosen.append(best[1])
        selected.append((best[1], qsim[best[1]], best[2]))
    rows = [
        (k + 1, vid, qs, num) for k, (vid, qs, num) in enumerate(selected)
    ]
    return spark.createDataFrame(
        rows, "rnk long, vec_id long, qsim_e6 long, mmr_num_e6 long"
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance-feedback query expansion (round 9)
# ---------------------------------------------------------------------------

#: PRF parameters: feedback depth (top-N first-pass docs), expansion
#: width (terms added), and the final cut.
PRF_FB_DOCS = 10
PRF_EXP_TERMS = 3
PRF_TOP_K = 10


def _bm25_rank_sql(tf_src: str, limit: int) -> str:
    """Shared second-pass BM25 SQL tail: score `tf_src` (doc_id, term,
    tf) against dl/stats and emit the top-`limit` docs."""
    return f"""
    dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM {tf_src} GROUP BY term),
    scoredx AS (
        SELECT s.doc_id,
               {_duck_bm25_term_e6("s.tf", "dfx.df", "dl.dl", "stats.n_docs", "stats.total_len")}
                   AS term_score_e6
        FROM {tf_src} s
        JOIN dfx USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(SUM(term_score_e6) AS BIGINT) AS bm25_e6,
           CAST(COUNT(*) AS BIGINT)           AS n_terms_hit
    FROM scoredx
    GROUP BY doc_id
    ORDER BY bm25_e6 DESC, doc_id
    LIMIT {limit}
    """


def _prf_common_sql() -> str:
    """First pass + feedback-term mining, shared by both PRF queries."""
    terms = ", ".join(f"'{x}'" for x in BM25_QUERY_TERMS)
    return f"""
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT)  AS total_len
        FROM dl
    ),
    tf0 AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE term IN ({terms}) GROUP BY doc_id, term
    ),
    df0 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf0 GROUP BY term),
    scored0 AS (
        SELECT tf0.doc_id,
               {_duck_bm25_term_e6("tf0.tf", "df0.df", "dl.dl", "stats.n_docs", "stats.total_len")}
                   AS term_score_e6
        FROM tf0
        JOIN df0 USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
    ),
    fb AS (
        SELECT doc_id FROM (
            SELECT doc_id, SUM(term_score_e6) AS bm
            FROM scored0 GROUP BY doc_id
            ORDER BY bm DESC, doc_id LIMIT {PRF_FB_DOCS}
        )
    ),
    fbterms AS (
        SELECT term, CAST(COUNT(DISTINCT tok.doc_id) AS BIGINT) AS df_fb
        FROM tok JOIN fb USING (doc_id)
        WHERE term NOT IN ({terms})
        GROUP BY term
    ),
    expt AS (SELECT term, df_fb FROM fbterms ORDER BY df_fb DESC, term LIMIT {PRF_EXP_TERMS}),
    qterms AS (
        {" UNION ALL ".join(f"SELECT '{x}' AS term" for x in BM25_QUERY_TERMS)}
        UNION ALL SELECT term FROM expt
    )
"""


def _prf_first_pass(spark: SparkSession, sf_dir: str):
    """Spark twins of the shared CTEs; returns (tok, dl, stats, expt)."""
    tok, dl, stats = bm25_collection(t(spark, sf_dir, "documents"))
    fb = (
        x4_bm25_topk(spark, sf_dir)
        .orderBy(F.desc("bm25_e6"), "doc_id")
        .limit(PRF_FB_DOCS)
        .select("doc_id")
    )
    fbterms = (
        tok.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("term")
        .agg(F.count_distinct("doc_id").cast("long").alias("df_fb"))
    )
    expt = fbterms.orderBy(F.desc("df_fb"), "term").limit(PRF_EXP_TERMS)
    return tok, dl, stats, expt


@register(
    "x4_prf_expansion_terms",
    oracle=f"""
    WITH {_prf_common_sql()}
    SELECT term, df_fb FROM expt ORDER BY df_fb DESC, term
    """,
    survey_ids=("X4", "O4"),
)
def x4_prf_expansion_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRF expansion itself, made auditable: the top feedback
    terms by feedback-set document frequency (query terms excluded,
    ties alphabetical) that `x4_prf_query_expansion` adds to the
    query. Feedback docs are pool-bounded (top-10 first-pass), so the
    term mining joins the token relation to a broadcast 10-row set —
    one semi-filtered scan + one vocabulary-keyed aggregate."""
    _, _, _, expt = _prf_first_pass(spark, sf_dir)
    return expt.select("term", "df_fb").orderBy(F.desc("df_fb"), "term")


@register(
    "x4_prf_query_expansion",
    oracle=f"""
    WITH {_prf_common_sql()},
    tfx AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE term IN (SELECT term FROM qterms)
        GROUP BY doc_id, term
    ),
    {_bm25_rank_sql("tfx", PRF_TOP_K)}
    """,
    survey_ids=("X4", "O4", "J5"),
)
def x4_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (Rocchio/RM-style, the
    two-pass trick behind 'query expansion' in classic IR and modern
    hybrid RAG): run BM25 for the fixed query, mine the top-10
    feedback docs for their most common non-query terms, re-run BM25
    with the expanded 6-term query, return the new top-10.

    Both passes keep the `x4_bm25_topk` scale shape — tf filtered to
    the (now 6-row, still broadcast) term set at the explode, df and
    stats broadcast, one doc-keyed shuffle, TakeOrderedAndProject.
    The feedback mining stage joins the token relation to a 10-row
    broadcast doc set; nothing anywhere exceeds the first pass's
    cost. Integer e6 term scores keep the two-pass composition
    hash-exact."""
    tok, dl, stats, expt = _prf_first_pass(spark, sf_dir)
    qterms = spark.createDataFrame(
        [(x,) for x in BM25_QUERY_TERMS], "term string"
    ).unionByName(expt.select("term"))
    tfx = (
        tok.join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        bm25_term_scores(tfx, dl, stats)
        .groupBy("doc_id")
        .agg(
            F.sum("term_score_e6").cast("long").alias("bm25_e6"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25_e6"), "doc_id")
        .limit(PRF_TOP_K)
    )


# ---------------------------------------------------------------------------
# Query-likelihood retrieval (Dirichlet smoothing)
# ---------------------------------------------------------------------------


def _ql_oracle() -> str:
    terms = " UNION ALL ".join(
        f"SELECT '{x}' AS term" for x in BM25_QUERY_TERMS
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok
        GROUP BY doc_id
    ),
    coll AS (SELECT CAST(COUNT(*) AS BIGINT) AS c_len FROM tok),
    q AS ({terms}),
    ctf AS (
        SELECT q.term, CAST(COUNT(tok.term) AS BIGINT) AS ctf
        FROM q LEFT JOIN tok ON tok.term = q.term GROUP BY q.term
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok JOIN q USING (term) GROUP BY doc_id, term
    ),
    scored AS (
        SELECT d.doc_id, c.term,
               COALESCE(t.tf, 0) AS tf,
               {_duck_ql_term_e6("t.tf", "c.ctf", "cl.c_len", "d.dl")} AS term_lp_e6
        FROM dl d
        CROSS JOIN ctf c
        CROSS JOIN coll cl
        LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.term = c.term
        WHERE c.ctf > 0
    )
    SELECT doc_id,
           CAST(SUM(term_lp_e6) AS BIGINT) AS ql_e6,
           CAST(COUNT(*) FILTER (WHERE tf > 0) AS BIGINT) AS n_terms_hit
    FROM scored
    GROUP BY doc_id
    ORDER BY ql_e6 DESC, doc_id
    LIMIT {BM25_TOP_K}
    """


@register(
    "x4_query_likelihood_topk",
    oracle=_ql_oracle(),
    survey_ids=("X4", "A1", "F6", "O4"),
)
def x4_query_likelihood_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Ponte &
    Croft / Zhai & Lafferty): score(d) = Σ_t ln((tf + μ·p(t|C)) /
    (dl + μ)) over the same fixed query `x4_bm25_topk` serves —
    completing the classic lexical trio (BM25, QL-Dirichlet, TF-IDF)
    that feeds rank fusion. The structural difference from BM25: EVERY
    query term scores every document (a zero-tf term still contributes
    its smoothed collection probability), so the score relation is the
    doc-length relation × a 3-row broadcast query — never a corpus
    fan-out; tf joins in where it exists. Per-term log-probs floor to
    e6 integers BEFORE the per-doc sum (order-free; the ln-floor
    discipline). Top-k compiles to TakeOrderedAndProject."""
    tok, dl, _ = bm25_collection(t(spark, sf_dir, "documents"))
    coll = tok.agg(F.count(F.lit(1)).cast("long").alias("total_len"))
    qterms = spark.createDataFrame(
        [(x,) for x in BM25_QUERY_TERMS], "term string"
    )
    ctf = (
        qterms.join(tok, "term", "left")
        .groupBy("term")
        .agg(F.count("doc_id").cast("long").alias("ctf"))
    )
    tf = (
        tok.join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # OOV guard: a query term absent from the whole collection has
    # p(t|C) = 0, so its smoothed log-prob is ln(0) — DuckDB raises,
    # Spark's F.log yields NULL and silently drops the term from the
    # sum. Both engines filter ctf=0 terms identically (the standard
    # drop-OOV-terms convention), so the score relation stays a
    # deterministic doc x in-vocabulary-term lattice.
    scored = (
        dl.crossJoin(F.broadcast(ctf.filter(F.col("ctf") > 0)))
        .crossJoin(F.broadcast(coll))
        .join(tf, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("tf"), F.lit(0)).alias("tf"),
            ql_term_e6().alias("term_lp_e6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_lp_e6").cast("long").alias("ql_e6"),
            F.count(F.when(F.col("tf") > 0, 1))
            .cast("long")
            .alias("n_terms_hit"),
        )
        .orderBy(F.desc("ql_e6"), "doc_id")
        .limit(BM25_TOP_K)
    )
