"""The bigram language-model family over ``documents``: the LM quality
score and its threshold sweep, the per-document perplexity filter, the
Jelinek-Mercer interpolation sweep, the DoReMi mixture step and DSIR
importance selection.

Every member reads one relation and one count model, each spelled once
here with its DuckDB twin beside it:

- :func:`doc_bigrams` / :func:`_duck_bigrams` — the adjacent token
  pairs ``(doc_id, *keep, a, b)`` of every document (position order, a
  one-token document has none);
- :func:`bigram_counts` / :func:`_duck_bigram_counts` — pair counts
  ``(a, b, cab)`` and prefix counts ``(a, ca)``.

Each caller keeps its own smoothing, scale and rounding order (the one
its oracle fixes): ln appears only as ``floor(SCALE·ln(x))`` with the
argument spelled identically in both engines, and everything after is
int64 arithmetic, with ``div``/``//`` truncating identically in Spark
and DuckDB — except the LM quality score, whose mean of logs is
floored to a 1e-4 grid that absorbs summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .relational import t
from .tokens import _duck_token_positions, doc_token_positions, doc_tokens, token_counts


def doc_bigrams(docs: DataFrame, *keep: str) -> DataFrame:
    """``(doc_id, *keep, a, b)``: every adjacent token pair of every
    document (whitespace tokens, position order), ``b`` never NULL — a
    one-token document contributes no row. One doc-keyed window over
    the token explode."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        doc_token_positions(docs, "doc_id", *keep, tk="a")
        .withColumn("b", F.lead("a").over(w))
        .filter(F.col("b").isNotNull())
        .drop("pos")
    )


def _duck_bigrams(*keep: str) -> str:
    """Oracle twin of :func:`doc_bigrams`: CTEs ``tok(doc_id, *keep,
    tk, pos)`` and ``bgn(doc_id, *keep, a, b)`` over ``documents``."""
    cols = "".join(f"{c}, " for c in keep)
    return f"""tok AS ({_duck_token_positions("doc_id", *keep)}),
    bg AS (
        SELECT doc_id, {cols}tk AS a,
               LEAD(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        FROM tok
    ),
    bgn AS (SELECT * FROM bg WHERE b IS NOT NULL)"""


def bigram_counts(bigrams: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The count model of a :func:`doc_bigrams` relation: pair counts
    ``(a, b, cab)`` and prefix counts ``(a, ca)``, ca = Σ_b cab. Both
    are vocabulary-bounded, map-combined rollups of the bigrams (one
    exchange each; rolling ``ca`` up from ``cab`` would add one)."""
    n = F.count(F.lit(1)).cast("long")
    return (
        bigrams.groupBy("a", "b").agg(n.alias("cab")),
        bigrams.groupBy("a").agg(n.alias("ca")),
    )


def _duck_bigram_counts(src: str) -> str:
    """Oracle twin of :func:`bigram_counts` over the CTE ``src``: CTEs
    ``cab(a, b, cab)`` and ``ca(a, ca)``."""
    return f"""cab AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM {src} GROUP BY a, b
    ),
    ca AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ca FROM {src} GROUP BY a)"""


# ---------------------------------------------------------------------------
# LM quality score and its threshold sweep
# ---------------------------------------------------------------------------

#: Oracle CTE chain ending at ``per_doc(doc_id, n_bigrams,
#: avg_logprob)`` — the quality score every consumer reads.
_DUCK_LM_QUALITY = f"""{_duck_bigrams()},
    {_duck_bigram_counts("bgn")},
    scored AS (
        SELECT g.doc_id, LN(c2.cab * 1.0 / c1.ca) AS lp
        FROM bgn g
        JOIN cab c2 ON c2.a = g.a AND c2.b = g.b
        JOIN ca c1 ON c1.a = g.a
    ),
    per_doc AS (
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               FLOOR(AVG(lp) * 10000) / 10000 AS avg_logprob
        FROM scored GROUP BY doc_id
    )"""


@register(
    "x4_bigram_lm_quality",
    oracle=f"""
    WITH {_DUCK_LM_QUALITY}
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
    construction (cab, ca >= 1). Plan: one doc_id-partitioned window
    for adjacency, two map-combined count aggregates (vocab-bounded
    relations), two co-keyed joins back, one per-doc aggregate —
    linear scans + vocab²-bounded intermediates; nothing pairwise,
    nothing collected. Score floor-scaled at 1e-4 (mean of logs is
    summation-order sensitive at ~1e-15; the coarse grid absorbs it),
    and the low_quality flag thresholds the FLOORED value so the
    boundary is engine-identical."""
    bg = doc_bigrams(t(spark, sf_dir, "documents"))
    cab, ca = bigram_counts(bg)
    scored = (
        bg.join(cab, ["a", "b"])
        .join(ca, "a")
        .select("doc_id", F.log(F.col("cab") * 1.0 / F.col("ca")).alias("lp"))
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
    WITH {_DUCK_LM_QUALITY}
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
    from .stats import div

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
            div(F.col("r.n_kept") * 1000000, F.col("n_scored")).alias("keep_rate_e6"),
        )
        .orderBy(F.desc("tau_e1"))
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
    WITH {_duck_bigrams()},
    {_duck_bigram_counts("bgn")},
    vv AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS v FROM bgn),
    lp AS (
        SELECT c2.a, c2.b,
               CAST(FLOOR(LN((c2.cab + 1.0) / (c1.ca + vv.v))
                          * 1000000) AS BIGINT) AS lp_e6
        FROM cab c2
        JOIN ca c1 ON c1.a = c2.a
        CROSS JOIN vv
    ),
    scored AS (
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(-SUM(l.lp_e6) AS BIGINT) AS neg_ll_e6
        FROM bgn g JOIN lp l ON l.a = g.a AND l.b = g.b
        GROUP BY g.doc_id
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
    floor(1e6·ln(·)); per-doc sums are exact integer sums (order-free),
    and the division is integer `div` truncating identically in both
    engines. Plan: the bigram relation is materialized once
    (localCheckpoint) and every LM statistic is a rollup of it — the
    vocabulary-bounded counts, the lp relation joined back to the
    bigrams co-keyed on the pair, one doc rollup — all linear in the
    token scan."""
    bg = doc_bigrams(t(spark, sf_dir, "documents")).localCheckpoint(eager=True)
    cab, ca = bigram_counts(bg)
    vv = bg.agg(F.count_distinct("b").cast("long").alias("v"))
    lp = (
        cab.join(ca, "a")
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
        bg.join(lp, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (-F.sum("lp_e6")).cast("long").alias("neg_ll_e6"),
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
# interpolated-LM held-out cross-entropy (the lambda knob)
# ---------------------------------------------------------------------------

#: Jelinek-Mercer interpolation weights swept (bigram share).
LM_LAMBDA_SWEEP = (0.25, 0.5, 0.75, 0.9)

#: Train/held-out gate (~75% train), one spelling per engine.
_DUCK_IS_TRAIN = "SUBSTR(MD5('ho|' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c'"


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
        LEFT JOIN cab tb ON tb.a = h.a AND tb.b = h.b
        LEFT JOIN ca ta ON ta.a = h.a
        LEFT JOIN tr_u tu ON tu.tk = h.b
        CROSS JOIN s""")
    union = "\n        UNION ALL\n".join(arms)
    return f"""
    WITH {_duck_bigrams()},
    trbg AS (SELECT * FROM bgn WHERE {_DUCK_IS_TRAIN}),
    {_duck_bigram_counts("trbg")},
    tr_u AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS cu
        FROM tok WHERE {_DUCK_IS_TRAIN} GROUP BY tk
    ),
    s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tok
                WHERE {_DUCK_IS_TRAIN}) AS ntr,
               (SELECT CAST(COUNT(DISTINCT tk) AS BIGINT) FROM tok) AS v
    ),
    ho AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM bgn WHERE NOT ({_DUCK_IS_TRAIN}) GROUP BY a, b
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
    from .stats import div

    is_train = (
        F.substring(
            F.md5(F.concat(F.lit("ho|"), F.col("doc_id").cast("string"))), 1, 1
        )
        < "c"
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", is_train.alias("is_train")
    )
    bg = doc_bigrams(docs, "is_train")
    tr_ab, tr_a = bigram_counts(bg.filter(F.col("is_train")))
    tok = doc_tokens(docs, "is_train")
    train = docs.filter(F.col("is_train"))
    tr_u = token_counts(train, tk="b").withColumnRenamed("n", "cu")
    s = (
        tok.filter(F.col("is_train"))
        .agg(F.count(F.lit(1)).cast("long").alias("ntr"))
        .crossJoin(tok.agg(F.count_distinct("tk").cast("long").alias("v")))
    )
    ho = (
        bg.filter(~F.col("is_train"))
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
                F.sum(F.col("cnt") * lp).cast("long").alias("_nll"),
            ).select(
                F.lit(int(lam * 1_000_000)).cast("long").alias("lambda_e6"),
                "n_bigrams",
                div(-F.col("_nll"), F.col("n_bigrams")).alias("xent_e6"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("lambda_e6")


# ---------------------------------------------------------------------------
# DoReMi-style mixture weight update
# ---------------------------------------------------------------------------

#: Multiplicative-weights step size (DoReMi's eta; fixed config).
DOREMI_ETA = 1.0
#: Weight grid: new weights are e6 integers summing to exactly 10^6.
DOREMI_SCALE = 1_000_000


def _doremi_oracle() -> str:
    return f"""
    WITH {_duck_bigrams("source")},
    {_duck_bigram_counts("bgn")},
    inst AS (
        SELECT g.source,
               CAST(FLOOR(LN(c2.cab * 1.0 / c1.ca) * 10000) AS BIGINT)
                   AS lp_e4
        FROM bgn g
        JOIN cab c2 ON c2.a = g.a AND c2.b = g.b
        JOIN ca c1 ON c1.a = g.a
    ),
    per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(-(SUM(lp_e4) // COUNT(*)) AS BIGINT) AS loss_e4
        FROM inst GROUP BY source
    ),
    corpus AS (
        SELECT CAST(-(SUM(lp_e4) // COUNT(*)) AS BIGINT) AS corpus_loss_e4
        FROM inst
    ),
    scored AS (
        SELECT p.source, p.n_bigrams, p.loss_e4,
               p.loss_e4 - c.corpus_loss_e4 AS excess_e4,
               CAST(FLOOR({DOREMI_SCALE} * EXP(
                   {DOREMI_ETA} * (p.loss_e4 - c.corpus_loss_e4) / 10000.0
               )) AS BIGINT) AS score_e6
        FROM per_src p CROSS JOIN corpus c
    ),
    tot AS (SELECT CAST(SUM(score_e6) AS BIGINT) AS s FROM scored),
    alloc AS (
        SELECT sc.source, sc.n_bigrams, sc.loss_e4, sc.excess_e4,
               sc.score_e6,
               CAST(({DOREMI_SCALE} * sc.score_e6) // t.s AS BIGINT)
                   AS base_w,
               CAST(({DOREMI_SCALE} * sc.score_e6) % t.s AS BIGINT)
                   AS rem
        FROM scored sc CROSS JOIN tot t
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
               CAST({DOREMI_SCALE} - SUM(base_w) OVER () AS BIGINT)
                   AS extras
        FROM alloc
    )
    SELECT source, n_bigrams, loss_e4, excess_e4,
           CAST(base_w + CASE WHEN rk <= extras THEN 1 ELSE 0 END
                AS BIGINT) AS new_w_e6
    FROM ranked
    ORDER BY source
    """


@register(
    "x4_doremi_weight_step",
    oracle=_doremi_oracle(),
    survey_ids=("X4", "A1", "F6", "W1"),
)
def x4_doremi_weight_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style multiplicative-weights update of the training
    mixture: per source, a bigram-LM loss proxy (negative mean bigram
    log-probability — the x4_bigram_lm_quality model, aggregated per
    source), excess loss over the corpus mean, and the reweighted
    domain weight w' ∝ exp(η·excess) — hard domains gain mass, the
    Group-DRO step DoReMi iterates (Xie et al. 2023; one step here,
    the schedule is a driver loop). Exactness: per-instance log-probs
    floor to e4 integers BEFORE the mean (order-free sums), the exp
    floors to e6 (the ln/AA discipline), and normalization is Hamilton
    largest-remainder over the integer scores so the emitted weights
    sum to EXACTLY 10^6 (the stratified-sample apportionment, applied
    to weights — never a float share). Scale: two vocab-bounded count
    joins + |sources|-bounded weight math."""
    from .stats import div

    bg = doc_bigrams(t(spark, sf_dir, "documents"), "source")
    cab, ca = bigram_counts(bg)
    inst = (
        bg.join(cab, ["a", "b"])
        .join(ca, "a")
        .select(
            "source",
            F.floor(F.log(F.col("cab").cast("double") / F.col("ca")) * 10000)
            .cast("long")
            .alias("lp_e4"),
        )
        .localCheckpoint(eager=True)  # read twice: per-source + corpus
    )
    per_src = inst.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (-F.expr("sum(lp_e4) div count(1)")).cast("long").alias("loss_e4"),
    )
    corpus = inst.agg(
        (-F.expr("sum(lp_e4) div count(1)"))
        .cast("long")
        .alias("corpus_loss_e4")
    )
    scored = per_src.crossJoin(F.broadcast(corpus)).select(
        "source",
        "n_bigrams",
        "loss_e4",
        (F.col("loss_e4") - F.col("corpus_loss_e4")).alias("excess_e4"),
        F.floor(
            DOREMI_SCALE
            * F.exp(
                F.lit(DOREMI_ETA)
                * (F.col("loss_e4") - F.col("corpus_loss_e4"))
                / 10000.0
            )
        )
        .cast("long")
        .alias("score_e6"),
    )
    tot = scored.agg(F.sum("score_e6").cast("long").alias("s"))
    scaled = F.lit(DOREMI_SCALE) * F.col("score_e6")
    alloc = scored.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_bigrams",
        "loss_e4",
        "excess_e4",
        div(scaled, F.col("s")).alias("base_w"),
        (scaled % F.col("s")).alias("rem"),
    )
    ranked = alloc.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), "source"))
        .alias("rk"),
        (F.lit(DOREMI_SCALE) - F.sum("base_w").over(Window.partitionBy())).alias(
            "extras"
        ),
    )
    return (
        ranked.select(
            "source",
            "n_bigrams",
            "loss_e4",
            "excess_e4",
            (
                F.col("base_w")
                + F.when(F.col("rk") <= F.col("extras"), 1).otherwise(0)
            )
            .cast("long")
            .alias("new_w_e6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------

#: Target-domain predicate: the data-selection target is the English
#: slice of the corpus; the pool being scored is everything else.
DSIR_TARGET_LANG = "en"
#: Documents selected (the token budget in docs).
DSIR_BUDGET = 50


def _dsir_core() -> str:
    """Shared oracle CTE chain ending in `scored` (doc_id, lang,
    n_bigrams, dsir_lr_e6) — the topk query cuts it to the budget, the
    budget sweep reads the ranked head at several budgets. The bigram
    key is ``a || '_' || b``."""
    return f"""{_duck_bigrams("lang")},
    bk AS (SELECT doc_id, lang, a || '_' || b AS b FROM bgn),
    tgt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
        FROM bk WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    pool AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS cr
        FROM bk WHERE lang <> '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    scal AS (
        SELECT
            (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tgt) AS nt,
            (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) FROM pool) AS nr,
            (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) FROM bk) AS v
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
        FROM bk WHERE lang <> '{DSIR_TARGET_LANG}'
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
    bk = doc_bigrams(t(spark, sf_dir, "documents"), "lang").select(
        "doc_id", "lang", F.concat_ws("_", "a", "b").alias("b")
    )
    docbg_all = (
        bk.groupBy("doc_id", "lang", "b")
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
    oracle=f"""
    WITH {_dsir_core()}
    SELECT doc_id, lang, n_bigrams, dsir_lr_e6
    FROM scored
    ORDER BY dsir_lr_e6 DESC, doc_id
    LIMIT {DSIR_BUDGET}
    """,
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
