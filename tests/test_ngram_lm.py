"""The bigram-LM family (``operators/ngram_lm.py``): the shared bigram
relation against its oracle twin, and closed-form pins of the scorers
on planted corpora."""

from __future__ import annotations

import math

import duckdb

from etl_generator_demo_spark.operators.ngram_lm import _duck_bigrams, doc_bigrams


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        [(i, text, lang, "srcT", len(text)) for i, (text, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_doremi_weights_sum_exact_and_monotone(spark, sf_dir):
    """The update's contracts: emitted weights sum to EXACTLY 10^6
    (Hamilton apportionment — no float share survives), excess losses
    are centered (min <= 0 <= max over sources), and weight order
    follows excess-loss order (multiplicative weights are monotone in
    the exponent; Hamilton's ±1 cannot flip an order separated by
    >=2 units — assert monotone up to that slack)."""
    from etl_generator_demo_spark.operators.ngram_lm import (
        DOREMI_SCALE,
        x4_doremi_weight_step,
    )

    rows = x4_doremi_weight_step(spark, sf_dir).collect()
    assert sum(r["new_w_e6"] for r in rows) == DOREMI_SCALE
    ex = [r["excess_e4"] for r in rows]
    assert min(ex) <= 0 <= max(ex)
    by_excess = sorted(rows, key=lambda r: (r["excess_e4"], r["source"]))
    ws = [r["new_w_e6"] for r in by_excess]
    for a, b in zip(ws, ws[1:]):
        assert b >= a - 1  # Hamilton slack
    # harder-than-average sources must out-weigh the uniform share
    n = len(rows)
    for r in rows:
        if r["excess_e4"] > 0:
            assert r["new_w_e6"] > DOREMI_SCALE // n - 1


def test_dsir_weights_closed_form(spark, tmp_path):
    """Hand-computable corpus: target 'a b a b' (bigrams a_b x2,
    b_a x1, Nt=3); pool docs 'a b c' and 'c c c' (a_b, b_c, c_c x2,
    Nr=4); V=4 distinct bigrams. Expected per-bigram log ratios and
    per-doc sums recomputed with math.log."""
    from etl_generator_demo_spark.operators.ngram_lm import (
        x4_dsir_importance_topk,
    )

    _write_documents(
        spark,
        str(tmp_path),
        [("a b a b", "en"), ("a b c", "xx"), ("c c c", "yy")],
    )
    got = {
        r["doc_id"]: r
        for r in x4_dsir_importance_topk(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2}

    def lr(ct, cr, nt=3, nr=4, v=4):
        return math.floor(
            math.log(((ct + 1.0) * (nr + v)) / ((cr + 1.0) * (nt + v)))
            * 1_000_000
        )

    want_doc1 = lr(2, 1) + lr(0, 1)  # a_b + b_c
    want_doc2 = 2 * lr(0, 2)  # c_c twice
    assert got[1]["dsir_lr_e6"] == want_doc1
    assert got[2]["dsir_lr_e6"] == want_doc2
    assert got[1]["n_bigrams"] == 2 and got[2]["n_bigrams"] == 2
    # the target-like doc must outrank the off-domain one
    assert want_doc1 > want_doc2


def test_perplexity_filter_orders_repetitive_text_lower(spark, tmp_path):
    """A maximally predictable doc (one repeated bigram) must score a
    LOWER cross-entropy than a doc of unique bigrams under the same
    corpus LM."""
    from etl_generator_demo_spark.operators.ngram_lm import (
        x4_doc_perplexity_filter,
    )

    _write_documents(
        spark,
        str(tmp_path),
        [("a a a a a a a a", "en"), ("b c d e f g h i", "en")],
    )
    got = {
        r["doc_id"]: r["xent_e6"]
        for r in x4_doc_perplexity_filter(spark, str(tmp_path)).collect()
    }
    assert got[0] < got[1]


def test_doc_bigrams_equals_oracle_bigrams(spark, tmp_path):
    """The bigram relation is the oracle's ``bgn``, pair for pair, on a
    hand-built corpus: repeated pairs stay separate rows, and a
    one-token document has no bigram."""
    _write_documents(spark, str(tmp_path), [("a b a c a b", "en"), ("solo", "de")])
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    got = sorted(tuple(r) for r in doc_bigrams(docs, "lang").collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = sorted(
        con.execute(f"WITH {_duck_bigrams('lang')} SELECT doc_id, lang, a, b FROM bgn").fetchall()
    )
    assert got == want == [
        (0, "en", "a", "b"),
        (0, "en", "a", "b"),
        (0, "en", "a", "c"),
        (0, "en", "b", "a"),
        (0, "en", "c", "a"),
    ]
