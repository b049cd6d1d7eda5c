"""Round-12 surfaces: the ExactSubstr removal→rematerialize pipeline,
DSIR importance resampling, the t-closeness and DP-sensitivity
audits, CDC chunking, the perplexity filter, the session-gap sweep
and the LM interpolation sweep.

Reference parity: the reference (HYUNJOON94/etl-generator-demo)
delegates all execution to PostgreSQL/MySQL behind an LLM
(db_connector.py:207-257) and has no corpus operators; this module is
part of the LLM-training-pipeline surface the brief requires as
first-class (SURVEY.md §2.12).

Fixed-point discipline (SCALE.md): ln appears only as
floor(SCALE·ln(x)) with the argument spelled identically in both
engines; everything else is int64 arithmetic, with `div`/`//`
truncating identically in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .dedup_substr import _DUCK_KGRAMS, _kgrams, SPAN_K
from .relational import t


# ---------------------------------------------------------------------------
# ExactSubstr dedup, the REMATERIALIZE step (r11 verdict item 2)
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
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tk")
    )
    rp = removed_positions(_kgrams(docs))
    return tok.join(rp, ["doc_id", "pos"], "left_anti")


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
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
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

    r16 rebuild (guide §8 "decide with small rows, move big rows
    once"): the r12 spelling exploded the WHOLE corpus into
    (doc_id, pos, tk) rows, anti-joined the removed positions, and
    re-aggregated with collect_list — two full shuffles of every
    corpus token. The decisions, though, are just the removed-position
    set (doc-keyed and removal-sized); so now only THAT is aggregated
    (collect_set per doc) and joined back to the document relation,
    and the rebuild is map-side array arithmetic over the original
    split: kept positions = array_except(sequence(0, n-1), removed),
    kept_text = the re-join of those elements. Token bytes never enter
    an exchange; output is identical row-for-row (array_except is
    membership-based, so collect_set order cannot matter; a fully
    removed doc yields size 0 → NULL kept_text, matching the old
    left-join NULL). The boundary audit
    (`x2_rematerialize_boundary_audit`) still proves removal
    completeness on the token relation spelling."""
    docs = t(spark, sf_dir, "documents")
    rem = (
        removed_positions(_kgrams(docs))
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_rem"))
    )
    toks = F.split("text", " ")
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
    oracle row and by tests/test_surfaces_r12.py on planted data.

    Plan: the kept relation flows into one per-doc renumber window +
    the same gram window as `_kgrams` (carrying the original-position
    span), then a groupBy(h2) rollup — linear in kept tokens, output
    one row."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tk")
    )
    rp = removed_positions(_kgrams(docs))
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
# DSIR importance resampling (r11 verdict item 3)
# ---------------------------------------------------------------------------

#: Target-domain predicate: the data-selection target is the English
#: slice of the corpus; the pool being scored is everything else.
DSIR_TARGET_LANG = "en"
#: Documents selected (the token budget in docs).
DSIR_BUDGET = 50


def _dsir_core() -> str:
    """Shared oracle CTE chain ending in `scored` (doc_id, lang,
    n_bigrams, dsir_lr_e6) — the topk query cuts it to the budget, the
    budget sweep reads the ranked head at several budgets."""
    return f"""tok AS (
        SELECT doc_id, lang,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    bg AS (
        SELECT doc_id, lang, tk || '_' || LEAD(tk) OVER w AS b
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    bgn AS (SELECT doc_id, lang, b FROM bg WHERE b IS NOT NULL),
    tgt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
        FROM bgn WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    pool AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS cr
        FROM bgn WHERE lang <> '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    scal AS (
        SELECT
            (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tgt) AS nt,
            (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) FROM pool) AS nr,
            (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) FROM bgn) AS v
    ),
    lr AS (
        SELECT p.b,
               CAST(FLOOR(LN(
                   ((COALESCE(t.ct, 0) + 1.0) * (s.nr + s.v))
                   / ((p.cr + 1.0) * (s.nt + s.v))
               ) * 1000000) AS BIGINT) AS lr_e6
        FROM pool p CROSS JOIN scal s
        LEFT JOIN tgt t ON t.b = p.b
    ),
    docbg AS (
        SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM bgn WHERE lang <> '{DSIR_TARGET_LANG}'
        GROUP BY doc_id, lang, b
    ),
    scored AS (
        SELECT d.doc_id, d.lang,
               CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
               CAST(SUM(d.cnt * l.lr_e6) AS BIGINT) AS dsir_lr_e6
        FROM docbg d JOIN lr l ON l.b = d.b
        GROUP BY d.doc_id, d.lang
    )
"""


def _dsir_oracle() -> str:
    return f"""
    WITH {_dsir_core()}
    SELECT doc_id, lang, n_bigrams, dsir_lr_e6
    FROM scored
    ORDER BY dsir_lr_e6 DESC, doc_id
    LIMIT {DSIR_BUDGET}
    """


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_bigrams, dsir_lr_e6) for every pool document —
    the shared head of the topk cut and the budget sweep.

    One corpus window pass: the (doc, lang, bigram) -> count relation
    is materialized ONCE (localCheckpoint) and every downstream LM
    statistic — target counts, pool counts, Nt/Nr/V scalars, per-doc
    dots — is a rollup of it. The naive spelling re-derived the
    token-explode + lead window for each consumer (4 corpus passes);
    at 100 TB the window pass dominates, so this is the difference
    between one shuffle-heavy pass and four."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("pos", "tk")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bgn = tok.select(
        "doc_id",
        "lang",
        F.when(
            F.lead("tk").over(w).isNotNull(),
            F.concat_ws("_", F.col("tk"), F.lead("tk").over(w)),
        ).alias("b"),
    ).filter(F.col("b").isNotNull())
    docbg_all = (
        bgn.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )

    is_tgt = F.col("lang") == DSIR_TARGET_LANG
    tgt = (
        docbg_all.filter(is_tgt)
        .groupBy("b")
        .agg(F.sum("cnt").cast("long").alias("ct"))
    )
    pool = (
        docbg_all.filter(~is_tgt)
        .groupBy("b")
        .agg(F.sum("cnt").cast("long").alias("cr"))
    )
    scal = (
        tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("nt"))
        .crossJoin(
            pool.agg(
                F.coalesce(F.sum("cr"), F.lit(0)).cast("long").alias("nr")
            )
        )
        .crossJoin(
            docbg_all.agg(F.count_distinct("b").cast("long").alias("v"))
        )
    )
    lr = (
        pool.join(tgt, "b", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "b",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                        * (F.col("nr") + F.col("v"))
                    )
                    / ((F.col("cr") + F.lit(1.0)) * (F.col("nt") + F.col("v")))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_e6"),
        )
    )
    docbg = docbg_all.filter(~is_tgt)
    return (
        docbg.join(lr, "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("lr_e6"))
            .cast("long")
            .alias("dsir_lr_e6"),
        )
    )


@register(
    "x4_dsir_importance_topk",
    oracle=_dsir_oracle(),
    survey_ids=("X4", "A1", "J4", "O4", "F6"),
)
def x4_dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, Data Selection via
    Importance Resampling): score every pool document (lang ≠ target)
    by the log likelihood ratio of its hashed-bigram bag under a
    target-domain bigram LM vs the pool LM — both add-one smoothed
    over the joint bigram vocabulary — and keep the top token budget.
    Completes the data-mixture trio: mixture sampling → DoReMi group
    weights (`x4_doremi_weight_step`) → per-document importance.

    log w(x) = Σ_b n_b(x) · [ln p_tgt(b) − ln p_pool(b)], computed as
    ONE ln of the compound ratio per distinct bigram (the ln-floor
    discipline: floor(1e6·ln(·)) with the argument spelled identically
    in both engines), then an exact integer dot with per-doc counts —
    order-free, so the score is partitioning-invariant.

    Plan shape at 100 TB: two vocabulary-bounded count rollups (target
    and pool LMs), one scalar broadcast (Nt, Nr, V), the per-bigram
    ratio relation joined to per-doc bigram counts on b (both keyed on
    b — co-partitioned), one doc rollup, TakeOrderedAndProject for the
    budget cut. Nothing quadratic; the LM tables are |vocab|-sized."""
    return (
        _dsir_scored(spark, sf_dir)
        .orderBy(F.desc("dsir_lr_e6"), "doc_id")
        .limit(DSIR_BUDGET)
    )


# ---------------------------------------------------------------------------
# t-closeness audit (the privacy ladder's distribution-distance rung)
# ---------------------------------------------------------------------------

#: Release gate: classes whose sensitive distribution sits further
#: than this total-variation distance from the global one are flagged.
T_CLOSE_E6 = 200_000


@register(
    "x4_t_closeness_audit",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(FLOOR(value / 10) AS BIGINT) AS value_bucket,
               event_type
        FROM events
    ),
    per_sens AS (
        SELECT day, value_bucket, event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ev GROUP BY day, value_bucket, event_type
    ),
    cls AS (
        SELECT day, value_bucket, CAST(SUM(cnt) AS BIGINT) AS c
        FROM per_sens GROUP BY day, value_bucket
    ),
    gdist AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS g FROM ev
        GROUP BY event_type
    ),
    gt AS (SELECT CAST(COUNT(*) AS BIGINT) AS gtot FROM ev),
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

    Plan: two keyed rollups over one event scan (class × sensitive,
    class), a |types|-bounded global broadcast, one class-keyed join —
    linear, class-bounded output."""
    ev = t(spark, sf_dir, "events").select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        F.floor(F.col("value") / 10).cast("long").alias("value_bucket"),
        "event_type",
    )
    per_sens = ev.groupBy("day", "value_bucket", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cls = per_sens.groupBy("day", "value_bucket").agg(
        F.sum("cnt").cast("long").alias("c")
    )
    glob = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("g")
    )
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
# content-defined chunking (CDC) dedup — the shift-resistant tier
# ---------------------------------------------------------------------------

#: Boundary modulus: a position starts a new chunk when the local
#: 2-gram hash ≡ 0 (mod CDC_MOD) ⇒ expected chunk length ≈ CDC_MOD
#: tokens (fixture docs run 40–130 tokens ⇒ ~5–16 chunks/doc).
CDC_MOD = 8


@register(
    "x2_cdc_chunk_dedup",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    marked AS (
        SELECT doc_id, pos, tk,
               CASE WHEN LAG(tk) OVER w IS NULL THEN 1
                    WHEN CAST(('0x' || SUBSTR(MD5(LAG(tk) OVER w
                                              || '|' || tk), 1, 8))
                              AS BIGINT) % {CDC_MOD} = 0 THEN 1
                    ELSE 0 END AS is_boundary
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    numbered AS (
        SELECT doc_id, pos, tk,
               SUM(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS chunk_no
        FROM marked
    ),
    chunks AS (
        SELECT doc_id, chunk_no,
               MD5(STRING_AGG(tk, ' ' ORDER BY pos)) AS chunk_h,
               CAST(COUNT(*) AS BIGINT) AS chunk_tokens
        FROM numbered GROUP BY doc_id, chunk_no
    )
    SELECT chunk_h,
           CAST(MAX(chunk_tokens) AS BIGINT) AS chunk_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS owner_doc
    FROM chunks
    GROUP BY chunk_h
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, chunk_h
    """,
    survey_ids=("X2", "W3", "A1", "F6"),
)
def x2_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup — the SHIFT-RESISTANT tier the
    fixed-block detector (`x4_chunk_level_dedup`, disjoint 16-token
    blocks) cannot provide: a one-token insertion shifts every later
    fixed block and kills all matches, while CDC boundaries depend
    only on LOCAL content (new chunk when the 2-gram hash of
    (prev, cur) ≡ 0 mod {M}), so chunking RESYNCHRONIZES right after
    an edit and shared tails still dedup — the rsync/LBFS/backup-dedup
    argument, applied to corpus boilerplate. Shift-resistance is
    pinned by tests/test_surfaces_r12.py on a planted shifted pair
    (fixed blocks: 0 matches; CDC: the shared suffix chunks match).

    Emits cross-document duplicated chunks with a deterministic
    canonical owner. Plan: one token scan → two per-doc windows
    (boundary mark, prefix-sum chunk number) → per-chunk hash rollup →
    one groupBy(chunk_h) with a HAVING prune — linear, keyed doc_id
    then chunk_h; the chunk relation is ~tokens/{M} rows. The boundary
    hash reuses the md5-hex→int idiom shared with the shard router."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tk")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("tk").over(w)
    h2 = F.conv(
        F.substring(F.md5(F.concat(prev, F.lit("|"), F.col("tk"))), 1, 8),
        16,
        10,
    ).cast("long")
    marked = tok.select(
        "doc_id",
        "pos",
        "tk",
        F.when(prev.isNull(), 1)
        .when(h2 % CDC_MOD == 0, 1)
        .otherwise(0)
        .alias("is_boundary"),
    )
    numbered = marked.select(
        "doc_id",
        "pos",
        "tk",
        F.sum("is_boundary")
        .over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("chunk_no"),
    )
    chunks = numbered.groupBy("doc_id", "chunk_no").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tk"))),
                    lambda s: s["tk"],
                ),
                " ",
            )
        ).alias("chunk_h"),
        F.count(F.lit(1)).cast("long").alias("chunk_tokens"),
    )
    return (
        chunks.groupBy("chunk_h")
        .agg(
            F.max("chunk_tokens").cast("long").alias("chunk_tokens"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("owner_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "chunk_h")
    )


# ---------------------------------------------------------------------------
# per-document perplexity filter (CCNet-style LM quality gate)
# ---------------------------------------------------------------------------

#: Cross-entropy keep ceiling (e6 nats/bigram). Documents whose
#: bigram cross-entropy under the corpus LM exceeds this are flagged —
#: the CCNet "head/middle/tail" cut, here a single measured gate.
PPL_KEEP_XENT_E6 = 5_000_000


@register(
    "x4_doc_perplexity_filter",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    bg AS (
        SELECT doc_id, tk AS a, LEAD(tk) OVER w AS b
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    bgn AS (SELECT doc_id, a, b FROM bg WHERE b IS NOT NULL),
    cnt_ab AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
        FROM bgn GROUP BY a, b
    ),
    cnt_a AS (
        SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM cnt_ab GROUP BY a
    ),
    vv AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS v FROM bgn),
    lp AS (
        SELECT ab.a, ab.b,
               CAST(FLOOR(LN((ab.cab + 1.0) / (ca.ca + vv.v))
                          * 1000000) AS BIGINT) AS lp_e6
        FROM cnt_ab ab
        JOIN cnt_a ca ON ca.a = ab.a
        CROSS JOIN vv
    ),
    docbg AS (
        SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM bgn GROUP BY doc_id, a, b
    ),
    scored AS (
        SELECT d.doc_id,
               CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
               CAST(-SUM(d.cnt * l.lp_e6) AS BIGINT) AS neg_ll_e6
        FROM docbg d JOIN lp l ON l.a = d.a AND l.b = d.b
        GROUP BY d.doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST(neg_ll_e6 // n_bigrams AS BIGINT) AS xent_e6,
           CASE WHEN neg_ll_e6 // n_bigrams <= {PPL_KEEP_XENT_E6}
                THEN 'keep' ELSE 'flag' END AS gate
    FROM scored
    ORDER BY doc_id
    """,
    survey_ids=("X4", "A1", "J1", "F6"),
)
def x4_doc_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity filter (CCNet / Wenzek et al. 2020): a
    document's cross-entropy per bigram under the corpus's own add-one
    bigram LM, with a keep/flag gate — the LM-quality rung of the
    filtering ladder next to the rule gates (`x4_gopher_quality_rules`)
    and the n-gram quality score (`x4_bigram_lm_quality`, corpus-level;
    this one is the PER-DOC serving relation a filter actually joins).

    H(d) = −(1/|d|) Σ_bigrams ln p(b|a), p add-one smoothed over the
    successor vocabulary. ln appears once per distinct bigram as
    floor(1e6·ln(·)); per-doc sums are exact integer dots (order-free),
    and the division is integer `div` truncating identically in both
    engines. Plan: vocabulary-bounded LM rollups (cnt_ab → cnt_a), the
    lp relation joined to per-doc counts co-keyed on the bigram, one
    doc rollup — all linear in the token scan."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tk")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bgn = tok.select(
        "doc_id",
        F.col("tk").alias("a"),
        F.lead("tk").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    # one corpus window pass: per-doc bigram counts materialized once,
    # LM statistics are rollups of it (same single-pass discipline as
    # _dsir_scored)
    docbg = (
        bgn.groupBy("doc_id", "a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    cnt_ab = docbg.groupBy("a", "b").agg(
        F.sum("cnt").cast("long").alias("cab")
    )
    cnt_a = cnt_ab.groupBy("a").agg(F.sum("cab").cast("long").alias("ca"))
    vv = docbg.agg(F.count_distinct("b").cast("long").alias("v"))
    lp = (
        cnt_ab.join(cnt_a, "a")
        .crossJoin(F.broadcast(vv))
        .select(
            "a",
            "b",
            F.floor(
                F.log((F.col("cab") + F.lit(1.0)) / (F.col("ca") + F.col("v")))
                * 1_000_000
            )
            .cast("long")
            .alias("lp_e6"),
        )
    )
    scored = (
        docbg.join(lp, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            (-F.sum(F.col("cnt") * F.col("lp_e6")))
            .cast("long")
            .alias("neg_ll_e6"),
        )
    )
    xent = F.expr("neg_ll_e6 div n_bigrams").cast("long")
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            xent.alias("xent_e6"),
            F.when(xent <= PPL_KEEP_XENT_E6, "keep")
            .otherwise("flag")
            .alias("gate"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# DSIR budget sweep (the selection knob's measured curve)
# ---------------------------------------------------------------------------

#: Budgets swept (docs kept). The largest bounds the ranked head.
DSIR_BUDGET_SWEEP = (10, 25, 50, 100)


def _dsir_sweep_oracle() -> str:
    budgets = ", ".join(f"({b})" for b in DSIR_BUDGET_SWEEP)
    return f"""
    WITH {_dsir_core()},
    head AS (
        SELECT dsir_lr_e6,
               ROW_NUMBER() OVER (ORDER BY dsir_lr_e6 DESC, doc_id) AS rk
        FROM scored
        ORDER BY dsir_lr_e6 DESC, doc_id
        LIMIT {max(DSIR_BUDGET_SWEEP)}
    ),
    budgets(b) AS (VALUES {budgets})
    SELECT CAST(b AS BIGINT) AS budget,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(dsir_lr_e6) // COUNT(*) AS BIGINT) AS mean_lr_e6,
           CAST(MIN(dsir_lr_e6) AS BIGINT) AS cutoff_lr_e6
    FROM budgets JOIN head ON head.rk <= budgets.b
    GROUP BY b
    ORDER BY budget
    """


@register(
    "x4_dsir_budget_sweep",
    oracle=_dsir_sweep_oracle(),
    survey_ids=("X4", "W1", "A1", "O4"),
)
def x4_dsir_budget_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR selection knob's measured curve: mean and cutoff
    importance at several budgets — how much score quality each extra
    slice of budget costs (the marginal-document ratio is the number
    that decides where to stop), same measured-knob discipline as the
    LSH band / IVF n_probe / packing context sweeps.

    Plan: the shared scored relation is cut ONCE to the largest budget
    (TakeOrderedAndProject — max(budgets) rows, never the corpus),
    ranked by a window over that bounded head, and read once per
    budget via a broadcast budgets join. Corpus work is identical to
    one topk run regardless of sweep width."""
    scored = _dsir_scored(spark, sf_dir)
    head = (
        scored.orderBy(F.desc("dsir_lr_e6"), "doc_id")
        .limit(max(DSIR_BUDGET_SWEEP))
        .select(
            "dsir_lr_e6",
            F.row_number()
            .over(Window.orderBy(F.desc("dsir_lr_e6"), "doc_id"))
            .alias("rk"),
        )
    )
    budgets = spark.createDataFrame(
        [(b,) for b in DSIR_BUDGET_SWEEP], "b int"
    )
    return (
        head.join(F.broadcast(budgets), F.col("rk") <= F.col("b"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.expr("sum(dsir_lr_e6) div count(1)")
            .cast("long")
            .alias("mean_lr_e6"),
            F.min("dsir_lr_e6").cast("long").alias("cutoff_lr_e6"),
        )
        .select(
            F.col("b").cast("long").alias("budget"),
            "n_selected",
            "mean_lr_e6",
            "cutoff_lr_e6",
        )
        .orderBy("budget")
    )


# ---------------------------------------------------------------------------
# session-gap sweep (the sessionization knob's measured curve)
# ---------------------------------------------------------------------------

#: Inactivity gaps swept (minutes).
SESSION_GAP_SWEEP_MIN = (5, 15, 30, 60)


def _gap_sweep_oracle() -> str:
    gaps = ", ".join(f"({g})" for g in SESSION_GAP_SWEEP_MIN)
    return f"""
    WITH gaps(g) AS (VALUES {gaps}),
    ev AS (
        SELECT user_id, EPOCH_US(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events
    ),
    marked AS (
        SELECT g, user_id, ts_us,
               CASE WHEN LAG(ts_us) OVER w IS NULL
                         OR ts_us - LAG(ts_us) OVER w > CAST(g AS BIGINT) * 60000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ev CROSS JOIN gaps
        WINDOW w AS (PARTITION BY g, user_id ORDER BY ts_us)
    ),
    islands AS (
        SELECT g, user_id,
               SUM(new_session) OVER (PARTITION BY g, user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    ),
    sessions AS (
        SELECT g, user_id, session_no, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM islands GROUP BY g, user_id, session_no
    )
    SELECT CAST(g AS BIGINT) AS gap_min,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) * 1000000 // COUNT(*) AS BIGINT)
               AS mean_events_e6,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM sessions
    GROUP BY g
    ORDER BY gap_min
    """


@register(
    "st_session_gap_sweep",
    oracle=_gap_sweep_oracle(),
    survey_ids=("§2.11", "W1", "W3", "A1"),
)
def st_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sessionization knob's measured curve: session count, mean
    size, and largest session at 5/15/30/60-minute inactivity gaps —
    the number that justifies `st_session_windows`' 30-minute gap
    instead of folklore (where the curve flattens, the gap stops
    mattering). Spelled gaps-and-islands over (gap × events) so ONE
    scan serves all four gaps; per-(gap, user) windows shuffle the
    events relation once on the compound key — hot users spread
    4-ways for free. Microsecond integer arithmetic end-to-end; ties
    in ts cannot flip any boundary flag (diff 0 is never > gap), so
    the per-gap session multiset is total-order-free."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    gaps = spark.createDataFrame(
        [(g,) for g in SESSION_GAP_SWEEP_MIN], "g int"
    )
    w = Window.partitionBy("g", "user_id").orderBy("ts_us")
    marked = ev.crossJoin(F.broadcast(gaps)).select(
        "g",
        "user_id",
        "ts_us",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (
                F.col("ts_us") - F.lag("ts_us").over(w)
                > F.col("g").cast("long") * 60_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    islands = marked.select(
        "g",
        "user_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    sessions = islands.groupBy("g", "user_id", "session_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return (
        sessions.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.expr("sum(n_events) * 1000000 div count(1)")
            .cast("long")
            .alias("mean_events_e6"),
            F.max("n_events").cast("long").alias("max_session_events"),
        )
        .select(
            F.col("g").cast("long").alias("gap_min"),
            "n_sessions",
            "mean_events_e6",
            "max_session_events",
        )
        .orderBy("gap_min")
    )


# ---------------------------------------------------------------------------
# interpolated-LM held-out cross-entropy (the lambda knob)
# ---------------------------------------------------------------------------

#: Jelinek-Mercer interpolation weights swept (bigram share).
LM_LAMBDA_SWEEP = (0.25, 0.5, 0.75, 0.9)


def _lm_interp_oracle() -> str:
    arms = []
    for lam in LM_LAMBDA_SWEEP:
        arms.append(f"""
        SELECT CAST({int(lam * 1_000_000)} AS BIGINT) AS lambda_e6,
               CAST(SUM(h.cnt) AS BIGINT) AS n_bigrams,
               CAST(-SUM(h.cnt * CAST(FLOOR(LN(
                   {lam} * (COALESCE(tb.cab, 0) * 1.0 / COALESCE(ta.ca, 1))
                   + {1 - lam} * ((COALESCE(tu.cu, 0) + 1.0) / (s.ntr + s.v))
               ) * 1000000) AS BIGINT)) // SUM(h.cnt) AS BIGINT) AS xent_e6
        FROM ho h
        LEFT JOIN tr_ab tb ON tb.a = h.a AND tb.b = h.b
        LEFT JOIN tr_a ta ON ta.a = h.a
        LEFT JOIN tr_u tu ON tu.tk = h.b
        CROSS JOIN s""")
    union = "\n        UNION ALL\n".join(arms)
    return f"""
    WITH tok AS (
        SELECT doc_id,
               SUBSTR(MD5('ho|' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                   AS is_train,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    bg AS (
        SELECT doc_id, is_train, tk AS a, LEAD(tk) OVER w AS b
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    bgn AS (SELECT doc_id, is_train, a, b FROM bg WHERE b IS NOT NULL),
    tr_ab AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
        FROM bgn WHERE is_train GROUP BY a, b
    ),
    tr_a AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM tr_ab GROUP BY a),
    tr_u AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS cu
        FROM tok WHERE is_train GROUP BY tk
    ),
    s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tok WHERE is_train) AS ntr,
               (SELECT CAST(COUNT(DISTINCT tk) AS BIGINT) FROM tok) AS v
    ),
    ho AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM bgn WHERE NOT is_train GROUP BY a, b
    )
    SELECT * FROM ({union})
    ORDER BY lambda_e6
    """


@register(
    "x4_lm_interpolation_sweep",
    oracle=_lm_interp_oracle(),
    survey_ids=("X4", "A1", "J4", "F6"),
)
def x4_lm_interpolation_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolation knob, measured: held-out bigram
    cross-entropy at λ ∈ {0.25, 0.5, 0.75, 0.9} for
    p = λ·p_bigram + (1−λ)·p_unigram(add-one) — the classic LM-smoothing
    sweep, run as a real train/held-out split (deterministic md5 gate,
    ~75% train — the same layout-independent split discipline as
    `x4_sample_docs`). Unseen held-out bigrams fall back to the unigram
    arm (p_bi = 0 via COALESCE(ca,1) — exact 0, not a smoothed fake);
    the unigram arm is add-one over the full-vocabulary support so
    p > 0 always. One ln-floor per distinct held-out bigram per λ,
    then exact integer occurrence-weighted sums.

    Plan: the bigram relation is built once per side (train counts are
    vocab-bounded; the held-out relation is corpus-linear); each λ is
    one aggregate over the same joined relation — the multiplied-read
    tuning-curve shape the probe tracks on the other sweeps."""
    docs = t(spark, sf_dir, "documents")
    is_train = (
        F.substring(
            F.md5(F.concat(F.lit("ho|"), F.col("doc_id").cast("string"))), 1, 1
        )
        < "c"
    )
    tok = docs.select(
        "doc_id",
        is_train.alias("is_train"),
        F.posexplode(F.split("text", " ")).alias("pos", "tk"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bgn = tok.select(
        "is_train",
        F.col("tk").alias("a"),
        F.lead("tk").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    tr_ab = (
        bgn.filter("is_train")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
    )
    tr_a = tr_ab.groupBy("a").agg(F.sum("cab").cast("long").alias("ca"))
    tr_u = (
        tok.filter("is_train")
        .groupBy("tk")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
        .withColumnRenamed("tk", "b")
    )
    s = (
        tok.filter("is_train")
        .agg(F.count(F.lit(1)).cast("long").alias("ntr"))
        .crossJoin(tok.agg(F.count_distinct("tk").cast("long").alias("v")))
    )
    ho = (
        bgn.filter(~F.col("is_train"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    joined = (
        ho.join(tr_ab, ["a", "b"], "left")
        .join(tr_a, "a", "left")
        .join(tr_u, "b", "left")
        .crossJoin(F.broadcast(s))
        .localCheckpoint(eager=True)
    )
    arms = []
    for lam in LM_LAMBDA_SWEEP:
        lp = F.floor(
            F.log(
                F.lit(lam)
                * (
                    F.coalesce(F.col("cab"), F.lit(0))
                    * F.lit(1.0)
                    / F.coalesce(F.col("ca"), F.lit(1))
                )
                + F.lit(1 - lam)
                * (
                    (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(1.0))
                    / (F.col("ntr") + F.col("v"))
                )
            )
            * 1_000_000
        ).cast("long")
        arms.append(
            joined.agg(
                F.sum("cnt").cast("long").alias("n_bigrams"),
                F.expr("1").alias("_one"),
                F.sum(F.col("cnt") * lp).cast("long").alias("_nll"),
            ).select(
                F.lit(int(lam * 1_000_000)).cast("long").alias("lambda_e6"),
                "n_bigrams",
                F.expr("CAST(-_nll div n_bigrams AS LONG)").alias("xent_e6"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("lambda_e6")


# ---------------------------------------------------------------------------
# user-level DP sensitivity audit
# ---------------------------------------------------------------------------

@register(
    "x4_dp_sensitivity_audit",
    oracle="""
    WITH per_user AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        GROUP BY day, user_id
    )
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
    is deterministic even though the mechanism is not). Plan: one
    (day, user) map-combined rollup + one day rollup — linear, keyed."""
    ev = t(spark, sf_dir, "events").select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    per_user = ev.groupBy("day", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    return (
        per_user.groupBy("day")
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
