"""Unigram-LM (SentencePiece-style) tokenizer training and serving —
the sibling of the BPE pair (`x4_bpe_merge_steps` trains merges,
`x4_bpe_encode_corpus` applies them; this trains a unigram vocabulary
à la Kudo 2018).

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
   before the floor). M-step: re-estimate weights from Viterbi token
   counts with add-one smoothing over the fixed vocabulary (no ln(0);
   classic fixed-vocab EM — SentencePiece additionally prunes, a
   config this operator pins off).
3. **Viterbi in the word row** (:func:`viterbi`): the segmentation
   lattice of a word depends only on that word and the
   vocabulary-sized cost model, so it is per-row work. The cost
   relation is collapsed into one map (:func:`cost_map`) and
   cross-joined onto the word types as a broadcast; one `aggregate`
   over the positions, with an inner `transform` over token lengths,
   is the min-plus pass, forward (f[j]) or backward (b[i]). The
   E-step counts every lattice edge on a co-optimal path through the
   classic f[i] + cost + b[j] == f[len] test — no path walk, ties
   counted deterministically as "all co-optimal edges". Serving runs
   the forward pass on the metric 16·cost + 1, so the low four bits of
   f[len] are the token count of the cheapest segmentation.

Scale: everything after the corpus word count operates on the word
TYPE relation (distinct words × counts), the same boundedness argument
as the BPE trainer: at 100 TB the word count is the only corpus-wide
pass, and training cost grows with the vocabulary, not the corpus.
Only the word types and the vocabulary-sized model relations (the
candidates, each iteration's counts and costs) are checkpointed.

The DuckDB oracles spell the same lattice independently, as unrolled
position-layered CTE chains over an edge relation.

Reference grounding: tokenizer training is the canonical corpus job
of the LLM-data pipeline this engine targets; the reference (an
LLM→SQL web shim, sql_generator.py) has no corpus operators at all.
Word extraction is bpe.py's (`corpus_words`, `vocabulary`:
documents.text split on single spaces).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .bpe import corpus_words, vocabulary
from .relational import t
from .tokens import _duck_tokens

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
        SELECT {_duck_tokens("word")} FROM documents
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
            SELECT source, {_duck_tokens("word")}
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

def _tok(i: Column, l: Column) -> Column:
    """The lattice edge word[i : i + l] of the current word row."""
    return F.col("word").substr(i + 1, l)


def _lengths(room: Column) -> Column:
    """Token lengths 1..min(UNI_MAXTOK, room)."""
    return F.sequence(F.lit(1), F.least(F.lit(UNI_MAXTOK), room))


def _edges(fn) -> Column:
    """``fn(i, l)`` over every lattice edge of the word row, flattened:
    0 <= i < wlen, 1 <= l <= min(UNI_MAXTOK, wlen - i)."""
    n = F.col("wlen")
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.transform(_lengths(n - i), lambda l: fn(i, l)),
        )
    )


def viterbi(cm: Column, backward: bool = False) -> Column:
    """The min-plus lattice pass over one word row, as an array over
    positions 0..wlen: forward, f[j] = the cheapest segmentation of
    word[:j]; backward, b[i] = the cheapest of word[i:]. ``cm`` maps a
    token to its cost; a token outside the model looks up NULL, and
    ``array_min`` skips it."""
    n = F.col("wlen")
    if backward:  # prepend b[p] to b[p+1..wlen]
        def step(acc, p):
            best = F.array_min(
                F.transform(_lengths(n - p), lambda l: cm[_tok(p, l)] + acc[l - 1])
            )
            return F.concat(F.array(best), acc)

        positions = F.sequence(n - 1, F.lit(0), F.lit(-1))
    else:  # append f[p] to f[0..p-1]
        def step(acc, p):
            best = F.array_min(
                F.transform(_lengths(p), lambda l: acc[p - l] + cm[_tok(p - l, l)])
            )
            return F.concat(acc, F.array(best))

        positions = F.sequence(F.lit(1), n)
    return F.aggregate(positions, F.array(F.lit(0).cast("long")), step)


def cost_map(costs: DataFrame, value: Column) -> DataFrame:
    """``(cm)``: the cost relation as one row holding one map, token ->
    ``value``, to cross-join onto the word rows as a broadcast."""
    entries = F.collect_list(F.struct("tok", value.alias("cost")))
    return costs.agg(F.map_from_entries(entries).alias("cm"))


def _costs(w: DataFrame) -> DataFrame:
    """``(tok, cost)`` from ``(tok, w)``: cost = floor(UNI_SCALE ·
    ln(Σw / w)), checkpointed."""
    tot = w.agg(F.sum("w").alias("tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.floor(UNI_SCALE * F.log(F.col("tw").cast("double") / F.col("w")))
            .cast("long")
            .alias("cost"),
        )
        .localCheckpoint(eager=True)
    )


def train_unigram(words: DataFrame):
    """Candidate selection and UNI_EM_ITERS Viterbi-EM iterations on a
    ``(word, wcount)`` word-type relation. Returns ``(words, counts,
    costs)``: the capped word relation with ``wlen``, the last
    iteration's Viterbi counts ``(tok, cnt)``, and the smoothed costs
    ``(tok, cost)`` over the whole candidate vocabulary (the model the
    encode pass serves with: zero-count tokens keep their smoothed
    cost, so coverage survives)."""
    words = (
        words.filter((F.col("word") != "") & (F.length("word") <= UNI_MAXWORD))
        .withColumn("wlen", F.length("word").cast("long"))
        .localCheckpoint(eager=True)
    )
    cand = (
        words.select("wcount", F.explode(_edges(_tok)).alias("tok"))
        .groupBy("tok")
        .agg(F.sum("wcount").cast("long").alias("w"))
    )
    multi = (
        cand.filter(F.length("tok") >= 2)
        .orderBy(F.desc("w"), "tok")
        .limit(UNI_MULTI_VOCAB)
    )
    vocab0 = (
        cand.filter(F.length("tok") == 1)
        .unionByName(multi)
        .localCheckpoint(eager=True)
    )
    costs = _costs(vocab0)
    counts = None
    f, b, cm, n = F.col("f"), F.col("b"), F.col("cm"), F.col("wlen")
    on_path = _edges(  # the co-optimal edges f[i] + cost + b[i + l] == f[wlen]
        lambda i, l: F.when(f[i] + cm[_tok(i, l)] + b[i + l] == f[n], _tok(i, l))
    )
    for _ in range(UNI_EM_ITERS):
        lattice = words.crossJoin(F.broadcast(cost_map(costs, F.col("cost")))).select(
            "word", "wlen", "wcount", "cm",
            viterbi(cm).alias("f"), viterbi(cm, backward=True).alias("b"),
        )
        counts = (
            lattice.select("wcount", F.explode(on_path).alias("tok"))
            .filter(F.col("tok").isNotNull())
            .groupBy("tok")
            .agg(F.sum("wcount").cast("long").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        costs = _costs(
            vocab0.select("tok")
            .join(counts, "tok", "left")
            .select("tok", (F.coalesce(F.col("cnt"), F.lit(0)) + 1).alias("w"))
        )
    return words, counts, costs


def unigram_lm_train(words: DataFrame) -> DataFrame:
    """Top-UNI_TOPK trained vocabulary (token, n_chars, viterbi_count,
    cost_e6, rnk) — the training-facing output; `train_unigram` holds
    the algorithm."""
    _, counts, costs = train_unigram(words)
    final = counts.join(costs.select("tok", F.col("cost").alias("cost_e6")), "tok")
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
    integer fixed point, Viterbi as the in-row min-plus lattice pass
    (forward + backward, co-optimal edge membership — never a path
    walk). Output: the trained top-40 vocabulary with final Viterbi
    counts and e6 costs."""
    docs = t(spark, sf_dir, "documents")
    return unigram_lm_train(vocabulary(corpus_words(docs)))


def _encoded(words: DataFrame, cm: DataFrame) -> DataFrame:
    """``words`` × ``cm`` with ``ntok``, the tokens per word. The
    forward pass runs on the metric 16·cost + 1 per edge (the values
    of ``cm``), so it minimizes total cost first and token count
    second (ntok <= UNI_MAXWORD < 16 can never flip a cost
    comparison); ntok is the low four bits of f[wlen]."""
    return words.crossJoin(F.broadcast(cm)).withColumn(
        "ntok", viterbi(F.col("cm"))[F.col("wlen")] % 16
    )


def _budget(enc: DataFrame, key, weight: str) -> DataFrame:
    """Per ``key``: words, chars and tokens, each word type weighted by
    its ``weight`` count, with fertility_e6 (tokens per word) and
    chars_per_token_e6."""
    c = F.col(weight)
    return (
        enc.groupBy(key)
        .agg(
            F.sum(c).cast("long").alias("n_words"),
            F.sum(c * F.col("wlen")).cast("long").alias("n_chars"),
            F.sum(c * F.col("ntok")).cast("long").alias("n_tokens"),
        )
        .withColumn("fertility_e6", F.expr("n_tokens * 1000000 div n_words").cast("long"))
        .withColumn("chars_per_token_e6", F.expr("n_chars * 1000000 div n_tokens").cast("long"))
    )


def unigram_encode_stats(
    words: DataFrame,
    costs: DataFrame,
    swords: DataFrame,
    dsrc: DataFrame,
) -> DataFrame:
    """Serving pass: Viterbi-segment every word type with the trained
    costs and roll token counts up per source. The corpus-wide work is
    only the per-source word count (`swords`) and the final
    broadcast-joinable rollup."""
    enc = _encoded(words, cost_map(costs, F.col("cost") * 16 + 1)).select("word", "wlen", "ntok")
    skipped = (
        swords.filter(F.length("word") > UNI_MAXWORD)
        .groupBy("source")
        .agg(F.sum("wc").cast("long").alias("n_skipped"))
    )
    return (
        dsrc.join(_budget(swords.join(enc, "word"), "source", "wc"), "source")
        .join(skipped, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_chars",
            "n_tokens",
            "fertility_e6",
            "chars_per_token_e6",
            F.coalesce(F.col("n_skipped"), F.lit(0)).cast("long").alias("n_skipped_words"),
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
    is sized; the per-word pass runs on word types, so serving cost is
    vocabulary-bounded while the corpus contributes one per-source
    word count."""
    docs = t(spark, sf_dir, "documents")
    docword = corpus_words(docs, "source")
    wcap, _, costs = train_unigram(vocabulary(docword))
    swords = docword.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("wc")
    )
    dsrc = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return unigram_encode_stats(wcap, costs, swords, dsrc)


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
    One aggregate ranks the multi-char tokens (count desc, token asc)
    and cuts one served cost map per size; the encode pass then runs
    once per (word, size) row — word-type-bounded like the trainer."""
    docs = t(spark, sf_dir, "documents")
    wcap, counts, costs = train_unigram(vocabulary(corpus_words(docs)))
    entry = F.struct("tok", (F.col("cost") * 16 + 1).alias("cost"))
    multi = (F.length("tok") >= 2) & F.col("cnt").isNotNull()
    ranked = costs.join(counts, "tok", "left").agg(
        F.collect_list(F.when(F.length("tok") == 1, entry)).alias("singles"),
        F.sort_array(
            F.collect_list(F.when(multi, F.struct((-F.col("cnt")).alias("k"), entry.alias("e"))))
        ).alias("multi"),
    )
    sizes = F.array(*(F.lit(v).cast("long") for v in UNI_SWEEP_VOCABS))
    serve = ranked.select("singles", "multi", F.explode(sizes).alias("v")).select(
        "v",
        F.map_from_entries(
            F.concat("singles", F.transform(F.slice("multi", 1, F.col("v")), lambda x: x["e"]))
        ).alias("cm"),
    )
    return (
        _budget(_encoded(wcap, serve), F.col("v").alias("vocab_multi"), "wcount")
        .coalesce(1)  # one row per sweep size: sorted in place
        .orderBy("vocab_multi")
    )
