"""Unigram-LM (SentencePiece-style) tokenizer training, relational
(round 11) — the missing sibling of the BPE pair (`x4_bpe_merge_steps`
trains merges, `x4_bpe_encode_corpus` applies them; this trains a
unigram vocabulary à la Kudo 2018).

The algorithm, re-expressed as bounded relational passes:

1. **Candidate vocabulary**: every substring of length 1..UNI_MAXTOK
   of every word type, weighted by corpus occurrences; keep the top
   UNI_MULTI_VOCAB multi-character candidates (weight desc, token asc
   — deterministic) plus ALL single characters (coverage guarantee:
   every word stays segmentable, so the Viterbi lattice always has a
   path).
2. **Hard-EM (Viterbi-EM), UNI_EM_ITERS fixed iterations.** E-step:
   segment every word type by minimum total token cost, where
   cost(tok) = floor(UNI_SCALE · ln(total_weight / weight(tok))) —
   the e6-floored negative log-probability, so path comparison is an
   INTEGER sum (order-free, hash-exact; the only float is the ln
   before the floor, the Adamic-Adar discipline that has held
   hash-exact across engines since round 7). M-step: re-estimate
   weights from Viterbi token counts with add-one smoothing over the
   fixed vocabulary (no ln(0); classic fixed-vocab EM — SentencePiece
   additionally prunes, a config this operator pins off).
3. **Viterbi as bounded shortest-path** (the x4_holt recursion
   discipline): the segmentation lattice is a DAG layered by
   character position, so forward costs f[j] are computed in ONE pass
   of UNI_MAXWORD position steps (topological order — no fixpoint
   needed), backward costs b[i] symmetrically, and the E-step counts
   every lattice edge lying on a co-optimal path via the classic
   f[i] + cost + b[j] == f[len] membership test — no path walk, no
   recursion, ties counted deterministically as "all co-optimal
   edges".

Scale: everything after the initial word count operates on the WORD
TYPE relation (distinct words × counts) — corpus-size independent,
the same boundedness argument as the BPE trainer. The lattice
relation is |word types| × O(UNI_MAXWORD · UNI_MAXTOK) rows; every DP
step is one keyed join+aggregate on it. At 100 TB the word count is
the only corpus-wide pass (one map-combined aggregate); training cost
does not grow with corpus size at all, only with vocabulary.

Reference grounding: tokenizer training is the canonical corpus job
of the LLM-data pipeline this engine targets; the reference (an
LLM→SQL web shim, sql_generator.py) has no corpus operators at all.
Word extraction follows bpe.py exactly (documents.text split on
single spaces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .relational import t

#: Max word length admitted to training (SentencePiece's
#: max_sentencepiece_length analogue, applied to words). Fixture
#: words max out at 8 chars; longer words are EXCLUDED, not truncated
#: (truncation would train on tokens that never occur).
UNI_MAXWORD = 10
#: Max candidate token length.
UNI_MAXTOK = 4
#: Multi-character candidates kept (plus all single chars).
UNI_MULTI_VOCAB = 64
#: Fixed EM iterations (unrolled identically in both engines).
UNI_EM_ITERS = 2
#: Cost fixed-point scale: cost = floor(SCALE * ln(total/weight)).
UNI_SCALE = 1_000_000
#: Output rows: top tokens by final Viterbi count.
UNI_TOPK = 40


# ---------------------------------------------------------------------------
# DuckDB oracle (generated, fully unrolled)
# ---------------------------------------------------------------------------

def _uni_vocab_sql(k: int, counts_cte: str) -> str:
    """vocab{k} (tok, cost) from smoothed counts in {counts_cte}."""
    return f"""
    smooth{k} AS (
        SELECT v.tok, CAST(COALESCE(c.cnt, 0) + 1 AS BIGINT) AS w
        FROM vocab0 v LEFT JOIN {counts_cte} c ON c.tok = v.tok
    ),
    vocab{k} AS MATERIALIZED (
        SELECT tok,
               CAST(FLOOR({UNI_SCALE} * LN(
                   (SELECT SUM(w) FROM smooth{k}) * 1.0 / w)) AS BIGINT)
                   AS cost
        FROM smooth{k}
    )"""


def _uni_dp_sql(it: int, vocab: str) -> str:
    """Forward + backward DP + on-path counts for one EM iteration."""
    parts = [f"""
    f{it}c0 AS (
        SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cost
        FROM words
    )"""]
    for j in range(1, UNI_MAXWORD + 1):
        parts.append(f"""
    f{it}c{j} AS MATERIALIZED (
        SELECT * FROM f{it}c{j - 1}
        UNION ALL
        SELECT e.word, CAST({j} AS BIGINT) AS pos,
               CAST(MIN(f.cost + v.cost) AS BIGINT) AS cost
        FROM edges e
        JOIN {vocab} v ON v.tok = e.tok
        JOIN f{it}c{j - 1} f ON f.word = e.word AND f.pos = e.i
        WHERE e.j = {j}
        GROUP BY e.word
    )""")
    parts.append(f"""
    b{it}c{UNI_MAXWORD} AS (
        SELECT word, CAST(wlen AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cost
        FROM words
    )""")
    for i in range(UNI_MAXWORD - 1, -1, -1):
        parts.append(f"""
    b{it}c{i} AS MATERIALIZED (
        SELECT * FROM b{it}c{i + 1}
        UNION ALL
        SELECT e.word, CAST({i} AS BIGINT) AS pos,
               CAST(MIN(v.cost + b.cost) AS BIGINT) AS cost
        FROM edges e
        JOIN {vocab} v ON v.tok = e.tok
        JOIN b{it}c{i + 1} b ON b.word = e.word AND b.pos = e.j
        WHERE e.i = {i}
        GROUP BY e.word
    )""")
    parts.append(f"""
    tot{it} AS (
        SELECT f.word, f.cost AS total
        FROM f{it}c{UNI_MAXWORD} f JOIN words w
          ON w.word = f.word AND f.pos = w.wlen
    ),
    cnt{it} AS MATERIALIZED (
        SELECT e.tok, CAST(SUM(w.wcount) AS BIGINT) AS cnt
        FROM edges e
        JOIN {vocab} v ON v.tok = e.tok
        JOIN f{it}c{UNI_MAXWORD} f ON f.word = e.word AND f.pos = e.i
        JOIN b{it}c0 b ON b.word = e.word AND b.pos = e.j
        JOIN tot{it} t ON t.word = e.word
        JOIN words w ON w.word = e.word
        WHERE f.cost + v.cost + b.cost = t.total
        GROUP BY e.tok
    )""")
    return ",".join(parts)


def _uni_training_ctes() -> str:
    """The WITH body shared by the trainer and the encoder oracles:
    word types -> candidates -> vocab -> edges -> UNI_EM_ITERS of
    forward/backward DP + counts (cnt1..cntN, vocab1..vocabN)."""
    body = [f"""
    WITH wtok AS (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents
    ),
    words AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount,
               CAST(LENGTH(word) AS BIGINT) AS wlen
        FROM wtok
        WHERE word <> '' AND LENGTH(word) <= {UNI_MAXWORD}
        GROUP BY word
    ),
    subs AS (
        SELECT SUBSTR(w.word, i.i + 1, l.l) AS tok,
               CAST(i.i AS BIGINT) AS i, CAST(i.i + l.l AS BIGINT) AS j,
               w.word, w.wcount
        FROM words w
        JOIN (SELECT UNNEST(RANGE(0, {UNI_MAXWORD})) AS i) i
          ON i.i < w.wlen
        JOIN (SELECT UNNEST(RANGE(1, {UNI_MAXTOK + 1})) AS l) l
          ON i.i + l.l <= w.wlen
    ),
    cand AS (
        SELECT tok, CAST(SUM(wcount) AS BIGINT) AS w
        FROM subs GROUP BY tok
    ),
    vocab0 AS MATERIALIZED (
        SELECT tok, w FROM cand WHERE LENGTH(tok) = 1
        UNION ALL
        SELECT tok, w FROM (
            SELECT tok, w FROM cand WHERE LENGTH(tok) >= 2
            ORDER BY w DESC, tok LIMIT {UNI_MULTI_VOCAB}
        )
    ),
    vocab1 AS MATERIALIZED (
        SELECT tok,
               CAST(FLOOR({UNI_SCALE} * LN(
                   (SELECT SUM(w) FROM vocab0) * 1.0 / w)) AS BIGINT)
                   AS cost
        FROM vocab0
    ),
    edges AS MATERIALIZED (
        SELECT s.word, s.i, s.j, s.tok
        FROM (SELECT DISTINCT word, i, j, tok FROM subs) s
        JOIN vocab0 v ON v.tok = s.tok
    )"""]
    for it in range(1, UNI_EM_ITERS + 1):
        body.append("," + _uni_dp_sql(it, f"vocab{it}"))
        body.append("," + _uni_vocab_sql(it + 1, f"cnt{it}"))
    return "".join(body)


def _unigram_oracle() -> str:
    last = UNI_EM_ITERS
    return _uni_training_ctes() + f""",
    final AS (
        SELECT v.tok, c.cnt,
               CAST(FLOOR({UNI_SCALE} * LN(
                   (SELECT SUM(COALESCE(c2.cnt, 0) + 1)
                    FROM vocab0 v2 LEFT JOIN cnt{last} c2
                      ON c2.tok = v2.tok) * 1.0
                   / (c.cnt + 1))) AS BIGINT) AS cost_e6
        FROM vocab0 v JOIN cnt{last} c ON c.tok = v.tok
    )
    SELECT tok AS token, CAST(LENGTH(tok) AS BIGINT) AS n_chars,
           cnt AS viterbi_count, cost_e6,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
               AS rnk
    FROM final
    ORDER BY cnt DESC, tok LIMIT {UNI_TOPK}
    """


def _unigram_encode_oracle() -> str:
    """Training CTEs + the serving pass: re-segment the corpus with
    the trained model (vocab{N+1}: smoothed costs over the FULL
    candidate vocabulary — zero-count tokens keep coverage), using the
    combined metric 16*cost + 1 per edge so the DP minimizes total
    cost first and token count second (ntok <= UNI_MAXWORD < 16, so
    the low bits can never flip a cost comparison); per-source rollup
    of words/chars/tokens + fertility."""
    served = f"vocab{UNI_EM_ITERS + 1}"
    parts = [_uni_training_ctes(), """,
    gc0 AS (
        SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS m
        FROM words
    )"""]
    for j in range(1, UNI_MAXWORD + 1):
        parts.append(f""",
    gc{j} AS MATERIALIZED (
        SELECT * FROM gc{j - 1}
        UNION ALL
        SELECT e.word, CAST({j} AS BIGINT) AS pos,
               CAST(MIN(g.m + v.cost * 16 + 1) AS BIGINT) AS m
        FROM edges e
        JOIN {served} v ON v.tok = e.tok
        JOIN gc{j - 1} g ON g.word = e.word AND g.pos = e.i
        WHERE e.j = {j}
        GROUP BY e.word
    )""")
    parts.append(f""",
    enc AS (
        SELECT g.word, g.m % 16 AS ntok
        FROM gc{UNI_MAXWORD} g
        JOIN words w ON w.word = g.word AND g.pos = w.wlen
    ),
    swords AS (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
            SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS word
            FROM documents
        ) WHERE word <> '' GROUP BY source, word
    ),
    dsrc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    agg AS (
        SELECT sw.source,
               CAST(SUM(sw.wc) AS BIGINT) AS n_words,
               CAST(SUM(sw.wc * w.wlen) AS BIGINT) AS n_chars,
               CAST(SUM(sw.wc * e.ntok) AS BIGINT) AS n_tokens
        FROM swords sw
        JOIN words w ON w.word = sw.word
        JOIN enc e ON e.word = sw.word
        GROUP BY sw.source
    ),
    skipped AS (
        SELECT source, CAST(SUM(wc) AS BIGINT) AS n_skipped
        FROM swords WHERE LENGTH(word) > {UNI_MAXWORD}
        GROUP BY source
    )
    SELECT d.source, d.n_docs, a.n_words, a.n_chars, a.n_tokens,
           CAST(a.n_tokens * 1000000 // a.n_words AS BIGINT)
               AS fertility_e6,
           CAST(a.n_chars * 1000000 // a.n_tokens AS BIGINT)
               AS chars_per_token_e6,
           CAST(COALESCE(k.n_skipped, 0) AS BIGINT) AS n_skipped_words
    FROM dsrc d
    JOIN agg a ON a.source = d.source
    LEFT JOIN skipped k ON k.source = d.source
    ORDER BY d.source
    """)
    return "".join(parts)


# ---------------------------------------------------------------------------
# Spark implementation
# ---------------------------------------------------------------------------

def _uni_costs(vocab0: DataFrame, counts: DataFrame | None) -> DataFrame:
    """(tok, cost) from candidate weights (counts=None, initial model)
    or from smoothed Viterbi counts (M-step)."""
    if counts is None:
        w = vocab0.select("tok", "w")
    else:
        w = vocab0.select("tok").join(counts, "tok", "left").select(
            "tok", (F.coalesce(F.col("cnt"), F.lit(0)) + 1).alias("w")
        )
    tot = w.agg(F.sum("w").alias("tw"))
    return w.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            UNI_SCALE * F.log(F.col("tw").cast("double") / F.col("w"))
        )
        .cast("long")
        .alias("cost"),
    )


def train_unigram(words: DataFrame):
    """Run candidate selection + UNI_EM_ITERS Viterbi-EM iterations on
    a (word, wcount) word-type relation. Returns (words, edges,
    counts, costs): the capped word relation, the lattice edge
    relation, the final iteration's Viterbi counts, and the final
    smoothed costs over the ENTIRE candidate vocabulary (the model the
    encode pass serves with — zero-count tokens keep their smoothed
    cost so coverage survives). Every DP step is one keyed
    join+aggregate, checkpointed so 2 × 2 × UNI_MAXWORD unrolled steps
    never compound the plan."""
    words = (
        words.filter(
            (F.col("word") != "") & (F.length("word") <= UNI_MAXWORD)
        )
        .withColumn("wlen", F.length("word").cast("long"))
        .localCheckpoint(eager=True)
    )
    subs = (
        words.select(
            "word",
            "wcount",
            "wlen",
            F.explode(F.sequence(F.lit(0), F.col("wlen") - 1)).alias("i"),
        )
        .select(
            "word",
            "wcount",
            "wlen",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(UNI_MAXTOK), F.col("wlen") - F.col("i")),
                )
            ).alias("l"),
        )
        .select(
            "word",
            "wcount",
            F.col("i").cast("long").alias("i"),
            (F.col("i") + F.col("l")).cast("long").alias("j"),
            F.expr("substr(word, i + 1, l)").alias("tok"),
        )
    )
    cand = subs.groupBy("tok").agg(F.sum("wcount").cast("long").alias("w"))
    singles = cand.filter(F.length("tok") == 1)
    multi = (
        cand.filter(F.length("tok") >= 2)
        .orderBy(F.desc("w"), "tok")
        .limit(UNI_MULTI_VOCAB)
    )
    vocab0 = singles.unionByName(multi).localCheckpoint(eager=True)
    edges = (
        subs.select("word", "i", "j", "tok")
        .distinct()
        .join(vocab0.select("tok"), "tok")
        .localCheckpoint(eager=True)
    )

    costs = _uni_costs(vocab0, None).localCheckpoint(eager=True)
    counts = None
    for _ in range(UNI_EM_ITERS):
        ecost = edges.join(costs, "tok").select(
            "word", "i", "j", "tok", "cost"
        ).localCheckpoint(eager=True)
        # forward DP in topological (position) order
        fwd = words.select(
            "word", F.lit(0).cast("long").alias("pos"),
            F.lit(0).cast("long").alias("cost"),
        )
        for j in range(1, UNI_MAXWORD + 1):
            step = (
                ecost.filter(F.col("j") == j)
                .join(
                    fwd.select(
                        "word",
                        F.col("pos").alias("i"),
                        F.col("cost").alias("fc"),
                    ),
                    ["word", "i"],
                )
                .groupBy("word")
                .agg(F.min(F.col("fc") + F.col("cost")).alias("cost"))
                .select(
                    "word", F.lit(j).cast("long").alias("pos"),
                    F.col("cost").cast("long").alias("cost"),
                )
            )
            fwd = fwd.unionByName(step).localCheckpoint(eager=True)
        # backward DP, descending position
        bwd = words.select(
            "word", F.col("wlen").alias("pos"),
            F.lit(0).cast("long").alias("cost"),
        )
        for i in range(UNI_MAXWORD - 1, -1, -1):
            step = (
                ecost.filter(F.col("i") == i)
                .join(
                    bwd.select(
                        "word",
                        F.col("pos").alias("j"),
                        F.col("cost").alias("bc"),
                    ),
                    ["word", "j"],
                )
                .groupBy("word")
                .agg(F.min(F.col("cost") + F.col("bc")).alias("cost"))
                .select(
                    "word", F.lit(i).cast("long").alias("pos"),
                    F.col("cost").cast("long").alias("cost"),
                )
            )
            bwd = bwd.unionByName(step).localCheckpoint(eager=True)
        tot = fwd.join(
            words.select("word", F.col("wlen").alias("pos")),
            ["word", "pos"],
        ).select("word", F.col("cost").alias("total"))
        counts = (
            ecost.join(
                fwd.select(
                    "word", F.col("pos").alias("i"), F.col("cost").alias("fc")
                ),
                ["word", "i"],
            )
            .join(
                bwd.select(
                    "word", F.col("pos").alias("j"), F.col("cost").alias("bc")
                ),
                ["word", "j"],
            )
            .join(tot, "word")
            .filter(
                F.col("fc") + F.col("cost") + F.col("bc") == F.col("total")
            )
            .join(words.select("word", "wcount"), "word")
            .groupBy("tok")
            .agg(F.sum("wcount").cast("long").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        costs = _uni_costs(vocab0, counts).localCheckpoint(eager=True)
    return words, edges, counts, costs


def unigram_lm_train(words: DataFrame) -> DataFrame:
    """Top-UNI_TOPK trained vocabulary (token, n_chars, viterbi_count,
    cost_e6, rnk) — the training-facing output; `train_unigram` holds
    the algorithm."""
    _, _, counts, costs = train_unigram(words)
    final = counts.join(costs.select("tok", F.col("cost").alias("cost_e6")),
                        "tok")
    from pyspark.sql.window import Window

    return (
        final.select(
            F.col("tok").alias("token"),
            F.length("tok").cast("long").alias("n_chars"),
            F.col("cnt").alias("viterbi_count"),
            "cost_e6",
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("viterbi_count"), "token"))
            .cast("long"),
        )
        .filter(F.col("rnk") <= UNI_TOPK)
        .orderBy("rnk")
    )


@register(
    "x4_unigram_lm_vocab",
    oracle=_unigram_oracle(),
    survey_ids=("X4", "U1", "A1", "F5"),
)
def x4_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training over the
    documents corpus (module docstring has the full algorithm): 2
    Viterbi-EM iterations over a 64+chars candidate vocabulary in e6
    integer fixed point, Viterbi as a position-layered shortest path
    (forward + backward pass, co-optimal edge membership — never a
    path walk). Output: the trained top-40 vocabulary with final
    Viterbi counts and e6 costs."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wcount"))
    )
    return unigram_lm_train(words)


def unigram_encode_stats(
    words: DataFrame,
    edges: DataFrame,
    costs: DataFrame,
    swords: DataFrame,
    dsrc: DataFrame,
) -> DataFrame:
    """Serving pass: Viterbi-segment every word type with the trained
    costs and roll token counts up per source. The DP minimizes the
    combined metric 16*cost + 1 per lattice edge — total cost first,
    token count second (ntok <= UNI_MAXWORD < 16 can never flip a cost
    comparison), so tokens-per-word is a deterministic scalar, no path
    walk. One forward pass of UNI_MAXWORD keyed steps on the word-type
    relation; the corpus-wide work is only the per-source word count
    (`swords`) and the final broadcast-joinable rollup."""
    ecost = (
        edges.join(costs, "tok")
        .select("word", "i", "j", (F.col("cost") * 16 + 1).alias("em"))
        .localCheckpoint(eager=True)
    )
    g = words.select(
        "word",
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("m"),
    )
    for j in range(1, UNI_MAXWORD + 1):
        step = (
            ecost.filter(F.col("j") == j)
            .join(
                g.select(
                    "word", F.col("pos").alias("i"), F.col("m").alias("gm")
                ),
                ["word", "i"],
            )
            .groupBy("word")
            .agg(F.min(F.col("gm") + F.col("em")).alias("m"))
            .select(
                "word",
                F.lit(j).cast("long").alias("pos"),
                F.col("m").cast("long").alias("m"),
            )
        )
        g = g.unionByName(step).localCheckpoint(eager=True)
    enc = g.join(
        words.select("word", F.col("wlen").alias("pos")), ["word", "pos"]
    ).select("word", (F.col("m") % 16).alias("ntok"))
    agg = (
        swords.join(words.select("word", "wlen"), "word")
        .join(enc, "word")
        .groupBy("source")
        .agg(
            F.sum("wc").cast("long").alias("n_words"),
            F.sum(F.col("wc") * F.col("wlen")).cast("long").alias("n_chars"),
            F.sum(F.col("wc") * F.col("ntok"))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    skipped = (
        swords.filter(F.length("word") > UNI_MAXWORD)
        .groupBy("source")
        .agg(F.sum("wc").cast("long").alias("n_skipped"))
    )
    return (
        dsrc.join(agg, "source")
        .join(skipped, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr("n_tokens * 1000000 div n_words")
            .cast("long")
            .alias("fertility_e6"),
            F.expr("n_chars * 1000000 div n_tokens")
            .cast("long")
            .alias("chars_per_token_e6"),
            F.coalesce(F.col("n_skipped"), F.lit(0))
            .cast("long")
            .alias("n_skipped_words"),
        )
        .orderBy("source")
    )


@register(
    "x4_unigram_encode_corpus",
    oracle=_unigram_encode_oracle(),
    survey_ids=("X4", "A1", "F5", "U1"),
)
def x4_unigram_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM corpus encoding — the serving sibling of
    `x4_unigram_lm_vocab` (the pairing `x4_bpe_merge_steps` /
    `x4_bpe_encode_corpus` has for BPE): train the model, then
    Viterbi-segment the corpus with it and report per-source token
    budgets (words, chars, tokens, fertility = tokens-per-word e6,
    chars-per-token e6, plus over-cap skipped words for honesty).
    Token budgeting with the ACTUAL tokenizer is how a 100 TB mixture
    is sized; the per-word DP runs on word types, so serving cost is
    vocabulary-bounded while the corpus contributes one per-source
    word count."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wcount"))
    )
    wcap, edges, _, costs = train_unigram(words)
    swords = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    dsrc = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return unigram_encode_stats(wcap, edges, costs, swords, dsrc)


#: Serving-vocab sweep sizes (multi-char tokens kept, by final
#: Viterbi count; all single chars always survive for coverage).
UNI_SWEEP_VOCABS = (16, 32, 64)


def _unigram_vocab_sweep_oracle() -> str:
    """Training CTEs + ONE exploded encode DP keyed by (word, v):
    the vocab-size knob's fertility curve — embedding-table size vs
    tokens-per-word — measured from the trained model, never three
    separate DP chains (the Jaccard-sweep discipline)."""
    served = f"vocab{UNI_EM_ITERS + 1}"
    vals = ", ".join(f"({v})" for v in UNI_SWEEP_VOCABS)
    parts = [_uni_training_ctes(), f""",
    ranked_multi AS (
        SELECT c.tok, ROW_NUMBER() OVER (ORDER BY c.cnt DESC, c.tok)
               AS rk
        FROM cnt{UNI_EM_ITERS} c WHERE LENGTH(c.tok) >= 2
    ),
    serve AS (
        SELECT vv.v, vc.tok, vc.cost
        FROM {served} vc
        CROSS JOIN (VALUES {vals}) AS vv(v)
        LEFT JOIN ranked_multi r ON r.tok = vc.tok
        WHERE LENGTH(vc.tok) = 1
           OR (r.rk IS NOT NULL AND r.rk <= vv.v)
    ),
    edgv AS MATERIALIZED (
        SELECT e.word, e.i, e.j, s.v, s.cost
        FROM edges e JOIN serve s ON s.tok = e.tok
    ),
    vc0 AS (
        SELECT w.word, vv.v, CAST(0 AS BIGINT) AS pos,
               CAST(0 AS BIGINT) AS m
        FROM words w CROSS JOIN (VALUES {vals}) AS vv(v)
    )"""]
    for j in range(1, UNI_MAXWORD + 1):
        parts.append(f""",
    vc{j} AS MATERIALIZED (
        SELECT * FROM vc{j - 1}
        UNION ALL
        SELECT e.word, e.v, CAST({j} AS BIGINT) AS pos,
               CAST(MIN(g.m + e.cost * 16 + 1) AS BIGINT) AS m
        FROM edgv e
        JOIN vc{j - 1} g ON g.word = e.word AND g.v = e.v
                         AND g.pos = e.i
        WHERE e.j = {j}
        GROUP BY e.word, e.v
    )""")
    parts.append(f""",
    enc AS (
        SELECT g.word, g.v, g.m % 16 AS ntok
        FROM vc{UNI_MAXWORD} g
        JOIN words w ON w.word = g.word AND g.pos = w.wlen
    )
    SELECT CAST(e.v AS BIGINT) AS vocab_multi,
           CAST(SUM(w.wcount) AS BIGINT) AS n_words,
           CAST(SUM(w.wcount * w.wlen) AS BIGINT) AS n_chars,
           CAST(SUM(w.wcount * e.ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(w.wcount * e.ntok) * 1000000 // SUM(w.wcount)
                AS BIGINT) AS fertility_e6,
           CAST(SUM(w.wcount * w.wlen) * 1000000
                // SUM(w.wcount * e.ntok) AS BIGINT)
               AS chars_per_token_e6
    FROM enc e JOIN words w ON w.word = e.word
    GROUP BY e.v
    ORDER BY vocab_multi
    """)
    return "".join(parts)


@register(
    "x4_unigram_vocab_sweep",
    oracle=_unigram_vocab_sweep_oracle(),
    survey_ids=("X4", "A1", "F5", "U1"),
)
def x4_unigram_vocab_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram tokenizer's tuning curve: fertility (tokens per
    word) vs serving-vocabulary size — truncate the trained vocabulary
    to the top 16/32/64 multi-char tokens (by final Viterbi count;
    single chars always kept, so coverage never breaks) and re-encode
    the corpus under each. Embedding-table size vs sequence-length is
    THE vocab-size tradeoff every tokenizer config pins; smaller
    serving vocab → monotonically higher fertility (pinned by pytest).
    One (word, v)-keyed DP over an exploded lattice — never one DP
    chain per size (the sweep discipline). Word-type-bounded like the
    trainer."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wcount"))
    )
    wcap, edges, counts, costs = train_unigram(words)
    from pyspark.sql.window import Window as W

    ranked_multi = (
        counts.filter(F.length("tok") >= 2)
        .select(
            "tok",
            F.row_number()
            .over(W.orderBy(F.desc("cnt"), "tok"))
            .alias("rk"),
        )
    )
    vsizes = spark.createDataFrame(
        [(v,) for v in UNI_SWEEP_VOCABS], "v long"
    )
    serve = (
        costs.crossJoin(F.broadcast(vsizes))
        .join(ranked_multi, "tok", "left")
        .filter(
            (F.length("tok") == 1)
            | (F.col("rk").isNotNull() & (F.col("rk") <= F.col("v")))
        )
        .select("v", "tok", "cost")
    )
    edgv = (
        edges.join(serve, "tok")
        .select("word", "i", "j", "v", (F.col("cost") * 16 + 1).alias("em"))
        .localCheckpoint(eager=True)
    )
    g = wcap.crossJoin(F.broadcast(vsizes)).select(
        "word",
        "v",
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("m"),
    )
    for j in range(1, UNI_MAXWORD + 1):
        step = (
            edgv.filter(F.col("j") == j)
            .join(
                g.select(
                    "word",
                    "v",
                    F.col("pos").alias("i"),
                    F.col("m").alias("gm"),
                ),
                ["word", "v", "i"],
            )
            .groupBy("word", "v")
            .agg(F.min(F.col("gm") + F.col("em")).alias("m"))
            .select(
                "word",
                "v",
                F.lit(j).cast("long").alias("pos"),
                F.col("m").cast("long").alias("m"),
            )
        )
        g = g.unionByName(step).localCheckpoint(eager=True)
    enc = g.join(
        wcap.select("word", F.col("wlen").alias("pos")), ["word", "pos"]
    ).select("word", "v", (F.col("m") % 16).alias("ntok"))
    return (
        enc.join(wcap.select("word", "wcount", "wlen"), "word")
        .groupBy(F.col("v").alias("vocab_multi"))
        .agg(
            F.sum("wcount").cast("long").alias("n_words"),
            F.sum(F.col("wcount") * F.col("wlen"))
            .cast("long")
            .alias("n_chars"),
            F.sum(F.col("wcount") * F.col("ntok"))
            .cast("long")
            .alias("n_tokens"),
        )
        .select(
            "vocab_multi",
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr("n_tokens * 1000000 div n_words")
            .cast("long")
            .alias("fertility_e6"),
            F.expr("n_chars * 1000000 div n_tokens")
            .cast("long")
            .alias("chars_per_token_e6"),
        )
        .orderBy("vocab_multi")
    )
