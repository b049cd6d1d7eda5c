"""Round-11 operators: CDC log apply, packing and mixture sweeps,
query-likelihood retrieval and the l-diversity audit.

CDC grounding: the reference's D1 commits arbitrary DML against the
live database (db_connector.py:244-251 — cursor.execute + commit of
whatever INSERT/UPDATE/DELETE the generator produced). At 100 TB that
contract arrives as a change-data-capture event log, not statements:
applying an ordered insert/update/delete stream to produce the
current snapshot is the at-scale spelling of D1, the consuming
sibling of `d_scd2_user_state` (which builds history from the same
feed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .relational import t

#: Deterministic event_type -> CDC op mapping: signup is the row
#: birth, error is the tombstone, every other interaction upserts.
_CDC_OP_SQL = (
    "CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' "
    "ELSE 'U' END"
)


def cdc_snapshot(log: DataFrame) -> DataFrame:
    """Apply an ordered CDC log (user_id, event_id, ts, op IN I/U/D,
    value_cents) to its current snapshot: latest op per key wins
    (ordered by ts then event_id — the log sequence number), a last
    op of 'D' removes the key, and an I/U after a D legitimately
    re-creates it. Replay-idempotent by construction: ops are counted
    with COUNT(DISTINCT event_id), so re-delivering the same log
    section (at-least-once transport) changes nothing — pinned by
    pytest.

    Scale: one shuffle on user_id shared by the ranking window and
    the per-key op counts (same key -> same exchange); no self-join,
    no driver collect. The snapshot is what a MERGE INTO target would
    hold after draining the stream."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = log.withColumn("rn", F.row_number().over(w))
    stats = log.groupBy("user_id").agg(
        F.countDistinct("event_id").cast("long").alias("n_ops"),
        F.countDistinct(
            F.when(F.col("op") == "D", F.col("event_id"))
        )
        .cast("long")
        .alias("n_tombstones"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .join(stats, "user_id")
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("value_cents").alias("last_value_cents"),
            F.col("ts").alias("last_ts"),
            "n_ops",
            "n_tombstones",
        )
        .orderBy("user_id")
    )


@register(
    "d_cdc_apply_snapshot",
    oracle=f"""
    WITH log AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               {_CDC_OP_SQL} AS op,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents
        FROM events
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM log
    ),
    stats AS (
        SELECT user_id,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ops,
               CAST(COUNT(DISTINCT CASE WHEN op = 'D' THEN event_id END)
                    AS BIGINT) AS n_tombstones
        FROM log GROUP BY user_id
    )
    SELECT r.user_id, r.op AS last_op, r.value_cents AS last_value_cents,
           r.ts AS last_ts, s.n_ops, s.n_tombstones
    FROM ranked r JOIN stats s USING (user_id)
    WHERE r.rn = 1 AND r.op <> 'D'
    ORDER BY r.user_id
    """,
    survey_ids=("D1", "W1", "A1", "F7"),
)
def d_cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: the events feed read as an insert/update/delete
    change log (signup=I, error=D tombstone, other=U), reduced to the
    current snapshot — latest op per user wins, tombstoned users
    absent, post-tombstone activity re-creates the row. The at-scale
    spelling of the reference's D1 DML commit (db_connector.py:
    244-251): a 100 TB pipeline consumes the statement stream as a
    log and folds it into state with one keyed shuffle, never
    row-at-a-time execute+commit. Value cents are exact integers
    (2-decimal doubles scale to within 1e-10 of an integer, so
    ROUND's half-mode can never matter)."""
    log = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr(_CDC_OP_SQL).alias("op"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    return cdc_snapshot(log)


# ---------------------------------------------------------------------------
# packing context-length sweep
# ---------------------------------------------------------------------------

#: Context lengths swept (tokens per training sequence).
PACK_SWEEP_LENGTHS = (64, 128, 256, 512)


def _pack_sweep_oracle() -> str:
    lens = ", ".join(f"({v})" for v in PACK_SWEEP_LENGTHS)
    return f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS tok_before
        FROM sized
    ),
    src_tot AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
        FROM sized GROUP BY source
    ),
    per_l AS (
        SELECT l.l, c.doc_id,
               (c.tok_before + c.n_tokens - 1
                >= (c.tok_before // l.l + 1) * l.l) AS straddles
        FROM cum c CROSS JOIN (VALUES {lens}) AS l(l)
    ),
    chunks AS (
        SELECT l.l,
               CAST(SUM((s.src_tokens + l.l - 1) // l.l) AS BIGINT)
                   AS n_chunks
        FROM src_tot s CROSS JOIN (VALUES {lens}) AS l(l)
        GROUP BY l.l
    )
    SELECT CAST(p.l AS BIGINT) AS context_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE p.straddles) AS BIGINT)
               AS n_straddling_docs,
           CAST(COUNT(*) FILTER (WHERE p.straddles) * 1000000 // COUNT(*)
                AS BIGINT) AS straddle_rate_e6,
           CAST(MAX(c.n_chunks) AS BIGINT) AS n_chunks
    FROM per_l p JOIN chunks c ON c.l = p.l
    GROUP BY p.l
    ORDER BY context_len
    """


@register(
    "x4_packing_context_sweep",
    oracle=_pack_sweep_oracle(),
    survey_ids=("X4", "W3", "A1"),
)
def x4_packing_context_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing family's tuning curve: for each training context
    length, how many documents the concat-and-chunk layout
    (`x4_sequence_packing`'s model) splits across a sequence boundary
    — the boundary-breakage vs sequence-count tradeoff that picks a
    context length for a corpus (longer sequences -> fewer chunks but
    every straddled doc leaks attention across an EOD boundary). One
    sized+prefix-sum relation exploded across the four lengths (never
    four scans — the Jaccard-sweep discipline); the per-source prefix
    sum is the packing operator's own deterministic concat order."""
    sized = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sized.select(
        "doc_id",
        "source",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_before"),
    )
    lens = spark.createDataFrame(
        [(v,) for v in PACK_SWEEP_LENGTHS], "l long"
    )
    per_l = cum.crossJoin(F.broadcast(lens)).select(
        "l",
        (
            F.col("tok_before") + F.col("n_tokens") - 1
            >= (F.expr("tok_before div l") + 1) * F.col("l")
        ).alias("straddles"),
    )
    src_tot = sized.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("src_tokens")
    )
    chunks = (
        src_tot.crossJoin(F.broadcast(lens))
        .groupBy("l")
        .agg(
            F.sum(F.expr("(src_tokens + l - 1) div l"))
            .cast("long")
            .alias("n_chunks")
        )
    )
    return (
        per_l.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("straddles"), 1))
            .cast("long")
            .alias("n_straddling_docs"),
        )
        .join(chunks, "l")
        .select(
            F.col("l").alias("context_len"),
            "n_docs",
            "n_straddling_docs",
            F.expr("n_straddling_docs * 1000000 div n_docs")
            .cast("long")
            .alias("straddle_rate_e6"),
            "n_chunks",
        )
        .orderBy("context_len")
    )


# ---------------------------------------------------------------------------
# DoReMi-style mixture weight update
# ---------------------------------------------------------------------------

#: Multiplicative-weights step size (DoReMi's eta; fixed config).
DOREMI_ETA = 1.0
#: Weight grid: new weights are e6 integers summing to exactly 10^6.
DOREMI_SCALE = 1_000_000


def _doremi_oracle() -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, source,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    big AS (
        SELECT doc_id, source, tk,
               LEAD(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM tok
    ),
    bigrams AS (
        SELECT doc_id, source, tk, nxt FROM big WHERE nxt IS NOT NULL
    ),
    c_bigram AS (
        SELECT tk, nxt, COUNT(*) AS cb FROM bigrams GROUP BY tk, nxt
    ),
    c_prefix AS (SELECT tk, COUNT(*) AS cp FROM bigrams GROUP BY tk),
    inst AS (
        SELECT b.source,
               CAST(FLOOR(LN(cb.cb * 1.0 / cp.cp) * 10000) AS BIGINT)
                   AS lp_e4
        FROM bigrams b
        JOIN c_bigram cb ON cb.tk = b.tk AND cb.nxt = b.nxt
        JOIN c_prefix cp ON cp.tk = b.tk
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
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "tk"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        tok.withColumn("nxt", F.lead("tk").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("source", "tk", "nxt")
    )
    c_bigram = bigrams.groupBy("tk", "nxt").agg(
        F.count(F.lit(1)).alias("cb")
    )
    c_prefix = bigrams.groupBy("tk").agg(F.count(F.lit(1)).alias("cp"))
    inst = (
        bigrams.join(c_bigram, ["tk", "nxt"])
        .join(c_prefix, "tk")
        .select(
            "source",
            F.floor(
                F.log(F.col("cb").cast("double") / F.col("cp")) * 10000
            )
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
    alloc = scored.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_bigrams",
        "loss_e4",
        "excess_e4",
        F.expr(f"({DOREMI_SCALE} * score_e6) div s").alias("base_w"),
        F.expr(f"({DOREMI_SCALE} * score_e6) % s").alias("rem"),
    )
    ranked = alloc.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.desc("rem"), "source"))
        .alias("rk"),
        (F.lit(DOREMI_SCALE) - F.sum("base_w").over(W.partitionBy())).alias(
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
# query-likelihood retrieval (Dirichlet smoothing)
# ---------------------------------------------------------------------------

#: Dirichlet pseudo-count. The textbook 2000 assumes ~500-token web
#: docs; fixture docs average ~45 tokens, so mu is set near avgdl
#: (the standard mu ~ avgdl rule) to keep the smoothing meaningful.
QL_MU = 50


def _ql_oracle() -> str:
    from .retrieval import BM25_QUERY_TERMS, BM25_TOP_K

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
               CAST(FLOOR(LN(
                   (COALESCE(t.tf, 0)
                    + {QL_MU} * (c.ctf * 1.0 / cl.c_len))
                   / (d.dl + {QL_MU})
               ) * 1000000) AS BIGINT) AS term_lp_e6
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
    from .retrieval import BM25_QUERY_TERMS, BM25_TOP_K

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    coll = tok.agg(F.count(F.lit(1)).cast("long").alias("c_len"))
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
            F.floor(
                F.log(
                    (
                        F.coalesce(F.col("tf"), F.lit(0))
                        + QL_MU
                        * (
                            F.col("ctf")
                            * F.lit(1.0)
                            / F.col("c_len")
                        )
                    )
                    / (F.col("dl") + QL_MU)
                )
                * 1_000_000
            )
            .cast("long")
            .alias("term_lp_e6"),
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


# ---------------------------------------------------------------------------
# l-diversity audit (the k-anonymity ladder's sensitive-attribute side)
# ---------------------------------------------------------------------------

#: Minimum distinct sensitive values a released class must carry.
L_DIV = 3
#: Disclosure-risk ceiling: the most common sensitive value may not
#: exceed this share of the class (e6).
L_DIV_PMAX_E6 = 800_000


def _l_diversity_oracle() -> str:
    return f"""
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
    """


@register(
    "x4_l_diversity_audit",
    oracle=_l_diversity_oracle(),
    survey_ids=("A1", "A4", "F7", "X4"),
)
def x4_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release gate — the sensitive-attribute side of the
    privacy pair (`x4_k_anonymity_ladder` bounds CLASS SIZE; a class
    can be k-anonymous yet still leak when everyone in it shares the
    sensitive value — Machanavajjhala et al. 2007). Quasi-identifier
    classes are (event day, value decile); the sensitive attribute is
    event_type. Flag classes that are homogeneous (l = 1), below
    l = {L_DIV} distinct values, or dominated by one value above an
    80% disclosure-risk ceiling (p_max, the attack success rate).
    Exactness: p_max is an integer rational of class counts. Shape:
    one map-combined rollup to (class, sensitive) then a class-keyed
    reduce — both shuffles move class counts, never events (the
    k-anonymity ladder's boundedness argument)."""
    ev = t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").cast("date").alias("day"),
        F.floor(F.col("value") / 10).cast("long").alias("value_bucket"),
        "event_type",
    )
    per_sens = ev.groupBy("day", "value_bucket", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    per_class = per_sens.groupBy("day", "value_bucket").agg(
        F.sum("cnt").cast("long").alias("class_size"),
        F.count(F.lit(1)).cast("long").alias("n_sensitive"),
        F.max("cnt").cast("long").alias("max_cnt"),
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
