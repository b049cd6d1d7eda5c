"""Unigram-LM trainer: closed-form anchors via an independent pure-
Python reimplementation of the exact algorithm (same fixed point,
same tie semantics), plus structural properties on the fixture."""

from __future__ import annotations

import pytest

import math

from etl_generator_demo_spark.operators.unigram_lm import (
    UNI_EM_ITERS,
    UNI_MAXTOK,
    UNI_MAXWORD,
    UNI_MULTI_VOCAB,
    UNI_SCALE,
    UNI_TOPK,
    unigram_lm_train,
    x4_unigram_lm_vocab,
)

SF = "/root/testdata/sf0.001"


def _py_train(word_counts: dict[str, int]):
    """Reference implementation: identical algorithm, plain Python."""
    words = {
        w: c
        for w, c in word_counts.items()
        if w and len(w) <= UNI_MAXWORD
    }
    cand: dict[str, int] = {}
    for w, c in words.items():
        for i in range(len(w)):
            for l in range(1, min(UNI_MAXTOK, len(w) - i) + 1):
                cand[w[i : i + l]] = cand.get(w[i : i + l], 0) + c
    singles = {t: v for t, v in cand.items() if len(t) == 1}
    multi = dict(
        sorted(
            ((t, v) for t, v in cand.items() if len(t) >= 2),
            key=lambda kv: (-kv[1], kv[0]),
        )[:UNI_MULTI_VOCAB]
    )
    vocab0 = {**singles, **multi}

    def costs_from(weights: dict[str, int]) -> dict[str, int]:
        tot = sum(weights.values())
        return {
            t: math.floor(UNI_SCALE * math.log(tot / w))
            for t, w in weights.items()
        }

    costs = costs_from(vocab0)
    counts: dict[str, int] = {}
    for _ in range(UNI_EM_ITERS):
        counts = {}
        for w, c in words.items():
            n = len(w)
            f = [None] * (n + 1)
            f[0] = 0
            for j in range(1, n + 1):
                best = None
                for i in range(max(0, j - UNI_MAXTOK), j):
                    tok = w[i:j]
                    if f[i] is not None and tok in costs:
                        v = f[i] + costs[tok]
                        best = v if best is None or v < best else best
                f[j] = best
            b = [None] * (n + 1)
            b[n] = 0
            for i in range(n - 1, -1, -1):
                best = None
                for j in range(i + 1, min(n, i + UNI_MAXTOK) + 1):
                    tok = w[i:j]
                    if b[j] is not None and tok in costs:
                        v = costs[tok] + b[j]
                        best = v if best is None or v < best else best
                b[i] = best
            total = f[n]
            for i in range(n):
                for j in range(i + 1, min(n, i + UNI_MAXTOK) + 1):
                    tok = w[i:j]
                    if (
                        tok in costs
                        and f[i] is not None
                        and b[j] is not None
                        and f[i] + costs[tok] + b[j] == total
                    ):
                        counts[tok] = counts.get(tok, 0) + c
        costs = costs_from(
            {t: counts.get(t, 0) + 1 for t in vocab0}
        )
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:UNI_TOPK], costs


def _spark_train(spark, word_counts: dict[str, int]):
    df = spark.createDataFrame(
        list(word_counts.items()), "word string, wcount long"
    )
    return unigram_lm_train(df).collect()


def test_unigram_matches_python_reference(spark):
    corpus = {
        "scan": 50,
        "scans": 30,
        "canon": 20,
        "cancan": 10,
        "ban": 25,
        "banana": 15,
        "nanny": 5,
    }
    got = _spark_train(spark, corpus)
    want, want_costs = _py_train(corpus)
    assert [(r["token"], r["viterbi_count"]) for r in got] == want
    for r in got:
        assert r["cost_e6"] == want_costs[r["token"]]
        assert r["n_chars"] == len(r["token"])
    assert [r["rnk"] for r in got] == list(range(1, len(got) + 1))


def test_unigram_single_char_coverage_and_word_cap(spark):
    """Words above UNI_MAXWORD are excluded (not truncated); every
    admitted word is segmentable, so total Viterbi mass (in token
    instances) is positive and bounded by total characters."""
    corpus = {
        "a" * (UNI_MAXWORD + 3): 100,  # excluded by the cap
        "ab": 7,
        "ba": 3,
    }
    got = _spark_train(spark, corpus)
    want, _ = _py_train(corpus)
    assert [(r["token"], r["viterbi_count"]) for r in got] == want
    # the mega-word's mass is absent: no token count can exceed 10
    assert all(r["viterbi_count"] <= 10 for r in got)


def test_unigram_multichar_tokens_win_on_repetition(spark):
    """A corpus dominated by one word must allocate its Viterbi path
    to the longest admissible tokens of that word (lowest total cost
    = fewest, most frequent pieces)."""
    corpus = {"drum": 1000, "rum": 3, "dru": 2}
    got = {r["token"]: r["viterbi_count"] for r in _spark_train(spark, corpus)}
    want, _ = _py_train(corpus)
    assert got == dict(want)
    assert got.get("drum") == 1000  # whole word is a 4-char candidate


def test_unigram_fixture_structure(spark):
    out = x4_unigram_lm_vocab(spark, SF).collect()
    assert 0 < len(out) <= UNI_TOPK
    assert [r["rnk"] for r in out] == list(range(1, len(out) + 1))
    counts = [r["viterbi_count"] for r in out]
    assert counts == sorted(counts, reverse=True)
    for r in out:
        assert 1 <= r["n_chars"] <= UNI_MAXTOK
        assert r["cost_e6"] > 0 and r["viterbi_count"] > 0


def _py_encode_ntok(word_counts, costs):
    """Reference encode: per word, combined-metric DP (16*cost + 1)."""
    out = {}
    for w in word_counts:
        if not w or len(w) > UNI_MAXWORD:
            continue
        n = len(w)
        g = [None] * (n + 1)
        g[0] = 0
        for j in range(1, n + 1):
            best = None
            for i in range(max(0, j - UNI_MAXTOK), j):
                tok = w[i:j]
                if g[i] is not None and tok in costs:
                    v = g[i] + costs[tok] * 16 + 1
                    best = v if best is None or v < best else best
            g[j] = best
        out[w] = g[n] % 16
    return out


@pytest.mark.slow
def test_unigram_encode_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.unigram_lm import (
        train_unigram,
        unigram_encode_stats,
    )

    corpus = {"scan": 6, "scans": 4, "canon": 3, "ban": 2, "nab": 1}
    sources = {  # (source, word) -> count; col sums match corpus
        ("a", "scan"): 4, ("b", "scan"): 2,
        ("a", "scans"): 1, ("b", "scans"): 3,
        ("a", "canon"): 3, ("b", "ban"): 2, ("a", "nab"): 1,
    }
    words = spark.createDataFrame(
        list(corpus.items()), "word string, wcount long"
    )
    swords = spark.createDataFrame(
        [(s, w, c) for (s, w), c in sources.items()],
        "source string, word string, wc long",
    )
    dsrc = spark.createDataFrame(
        [("a", 10), ("b", 20)], "source string, n_docs long"
    )
    wcap, _, costs = train_unigram(words)
    got = {
        r["source"]: r
        for r in unigram_encode_stats(
            wcap, costs, swords, dsrc
        ).collect()
    }
    _, py_costs = _py_train(corpus)
    ntok = _py_encode_ntok(corpus, py_costs)
    for src in ("a", "b"):
        rows = {w: c for (s, w), c in sources.items() if s == src}
        n_words = sum(rows.values())
        n_chars = sum(len(w) * c for w, c in rows.items())
        n_tokens = sum(ntok[w] * c for w, c in rows.items())
        r = got[src]
        assert r["n_words"] == n_words
        assert r["n_chars"] == n_chars
        assert r["n_tokens"] == n_tokens, (src, ntok)
        assert r["fertility_e6"] == n_tokens * 1_000_000 // n_words
        assert r["chars_per_token_e6"] == n_chars * 1_000_000 // n_tokens
        assert r["n_skipped_words"] == 0


@pytest.mark.slow
def test_unigram_encode_fixture_sane(spark):
    from etl_generator_demo_spark.operators.unigram_lm import (
        x4_unigram_encode_corpus,
    )

    out = x4_unigram_encode_corpus(spark, SF).collect()
    assert out
    for r in out:
        # every admitted word yields between 1 and ceil(len/1) tokens
        assert r["n_words"] <= r["n_tokens"] <= r["n_chars"]
        assert 1_000_000 <= r["fertility_e6"] <= UNI_MAXWORD * 1_000_000
        assert r["chars_per_token_e6"] >= 1_000_000


@pytest.mark.slow
def test_vocab_sweep_fertility_monotone(spark):
    """Smaller serving vocab can only RAISE fertility (fewer multi
    tokens available → more pieces per word); the largest sweep point
    must match the full encode's corpus-wide fertility when the
    trained multi vocab fits inside it."""
    from etl_generator_demo_spark.operators.unigram_lm import (
        UNI_SWEEP_VOCABS,
        x4_unigram_vocab_sweep,
    )

    rows = {r["vocab_multi"]: r for r in
            x4_unigram_vocab_sweep(spark, SF).collect()}
    assert set(rows) == set(UNI_SWEEP_VOCABS)
    ferts = [rows[v]["fertility_e6"] for v in sorted(rows)]
    assert ferts == sorted(ferts, reverse=True)  # monotone decay
    for v, r in rows.items():
        assert r["n_words"] <= r["n_tokens"] <= r["n_chars"]
        assert r["fertility_e6"] == (
            r["n_tokens"] * 1_000_000 // r["n_words"]
        )


#: Spark job-id delta of one build on the sf0.001 fixture (4 cores).
#: The unigram queries check out only the word types, the candidate
#: vocabulary and each EM iteration's counts and costs; the DSIR weight
#: model and the PMI document count are in-plan rows, so their builders
#: run no job.
BUILD_JOBS = {
    "x4_unigram_lm_vocab": 24,
    "x4_unigram_encode_corpus": 24,
    "x4_unigram_vocab_sweep": 24,
    "x4_dsir_importance": 0,
    "x4_dsir_resampled_mixture": 0,
    "x4_pmi_cooccurrence": 0,
}


@pytest.mark.parametrize("rows", [0, 1])
def test_degenerate_input_matches_oracle(
    spark, sf_dir, replace_table, oracle_mismatches, rows
):
    """An empty corpus and a one-document corpus: the in-row lattice
    pass over zero or a handful of word types, and the one-row in-plan
    totals over zero or one document, still match the oracles."""
    from etl_generator_demo_spark.operators.relational import t

    frame = t(spark, sf_dir, "documents").orderBy("doc_id").limit(rows)
    bad = oracle_mismatches(replace_table("documents", frame), sorted(BUILD_JOBS))
    assert not bad, bad


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_build_job_count_pinned(spark, sf_dir, job_delta, name):
    from etl_generator_demo_spark.registry import load_all

    fn = load_all()[name].fn
    fn(spark, sf_dir).collect()  # warm the session
    n, _ = job_delta(lambda: fn(spark, sf_dir))
    assert n <= BUILD_JOBS[name], n
