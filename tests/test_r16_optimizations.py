"""Focused pins for the round-16 optimization rewrites: each changed
operator internal keeps its exact pre-rewrite semantics on planted
data (the oracle rows pin the fixture corpora; these pin the edge
cases the rewrites touch)."""

from __future__ import annotations


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        [(i, text, lang, "srcT", len(text)) for i, (text, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_rematerialize_fully_removed_doc_is_null(spark, tmp_path):
    """The array-based rebuild (r16) must keep the left-join NULL
    contract of the exploded spelling: a doc whose every token is
    removed yields n_kept_tokens 0 and kept_text NULL; a doc with no
    removals rebuilds to its original text byte-for-byte."""
    from etl_generator_demo_spark.operators.surfaces_r12 import (
        x2_removal_rematerialize,
    )

    span = "s1 s2 s3 s4 s5"
    _write_documents(
        spark,
        str(tmp_path),
        [
            (span, "en"),          # doc0: owner, kept intact
            (span, "en"),          # doc1: loses ALL tokens -> NULL
            ("u1 u2 u3", "en"),    # doc2: untouched -> identity rebuild
        ],
    )
    rows = {
        r["doc_id"]: r
        for r in x2_removal_rematerialize(spark, str(tmp_path)).collect()
    }
    assert rows[0]["kept_text"] == span and rows[0]["n_kept_tokens"] == 5
    assert rows[1]["n_kept_tokens"] == 0 and rows[1]["kept_text"] is None
    assert rows[1]["n_tokens"] == 5
    assert rows[2]["kept_text"] == "u1 u2 u3" and rows[2]["n_kept_tokens"] == 3


def test_bpe_winner_materialization_matches_wrapper(spark):
    """The one-task mapInPandas trainer must equal the pure-Python
    trainer it wraps, on both the winner rows and the final symbol
    state — including the x == y run-parity path."""
    from etl_generator_demo_spark.operators.bpe import bpe_train, bpe_trainer

    words = [("aaab", 3), ("abab", 2)]
    vocab = spark.createDataFrame(words, "word string, wcount long")
    merges, states = bpe_train([(list(w), c) for w, c in words])
    got = bpe_trainer(vocab).collect()
    assert [tuple(r) for r in got] == [(k, *m) for k, m in enumerate(merges, 1)]
    got_words = bpe_trainer(vocab, words=True).collect()
    assert {r.word: list(r.syms) for r in got_words} == {
        w: s for (w, _), s in zip(words, states)
    }


def test_bpe_training_resumes_from_materialized_state():
    """Training k + 1 steps at once equals training k steps, keeping the
    state, and training one more step from it: a winner depends only on
    the state it is counted over."""
    from etl_generator_demo_spark.operators.bpe import bpe_train

    words = [(list("aaab"), 3), (list("abab"), 2), (list("aabaa"), 1)]
    both, final = bpe_train(words, 2)
    first, mid = bpe_train(words, 1)
    second, final2 = bpe_train([(s, c) for s, (_, c) in zip(mid, words)], 1)
    assert both == first + second
    assert final == final2


