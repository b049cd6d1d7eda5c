"""BPE merge training: closed-form anchors for the greedy leftmost
application — including the x == y run-parity case — on constructed
vocabularies. Each anchor is pinned twice: on the pure-Python trainer
(``bpe_train``) and through Spark's one-task ``mapInPandas`` trainer
(``bpe_trainer``). Fixture values are oracle-gated.
"""

from __future__ import annotations

import pytest

from etl_generator_demo_spark.operators.bpe import (
    BPE_STEPS,
    MERGES_SCHEMA,
    WORDS_SCHEMA,
    bpe_train,
    bpe_trainer,
    x4_bpe_encode_corpus,
)


def _train(words, steps):
    """words: dict word -> count, split into character symbols."""
    return bpe_train([(list(w), c) for w, c in words.items()], steps)


def _vocab(spark, words):
    return spark.createDataFrame(list(words.items()), "word string, wcount long")


# name -> (vocabulary, steps, merges, final symbols of some words)
ANCHORS = {
    # (a,b) appears 2*3 + 1*2 = 8 times; (b,a) 3, (b,c) 2
    "simple_merge": (
        {"abab": 3, "abc": 2},
        1,
        [("a", "b", 8)],
        {"abab": ["ab", "ab"], "abc": ["ab", "c"]},
    ),
    # 'aaaa' under merge (a,a): greedy leftmost -> [aa, aa];
    # 'aaa' -> [aa, a]; 'aaaaa' -> [aa, aa, a]; count 3*5 + 2*1 + 4*1
    "run_parity": (
        {"aaaa": 5, "aaa": 1, "aaaaa": 1},
        1,
        [("a", "a", 21)],
        {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"], "aaaaa": ["aa", "aa", "a"]},
    ),
    # runs of a's separated by b -> each run merges at its own start
    "two_runs": ({"aabaa": 9}, 1, [("a", "a", 18)], {"aabaa": ["aa", "b", "aa"]}),
    # step 1 merges (a,b) -> 'ab'; step 2 merges ('ab','c')
    "chained": (
        {"abc": 10, "abd": 4},
        2,
        [("a", "b", 14), ("ab", "c", 10)],
        {"abc": ["abc"], "abd": ["ab", "d"]},
    ),
    # (x,y) and (a,b) both count 1 -> (a,b) wins the tie
    "tie_break": ({"xy": 1, "ab": 1}, 1, [("a", "b", 1)], {"ab": ["ab"], "xy": ["x", "y"]}),
}


def _check_pure(name):
    words, steps, merges, syms = ANCHORS[name]
    got_merges, states = _train(words, steps)
    assert got_merges == merges
    final = dict(zip(words, states))
    for w, expected in syms.items():
        assert final[w] == expected


class TestGreedyApplication:
    def test_simple_merge_and_winner(self):
        _check_pure("simple_merge")

    def test_identical_pair_run_parity(self):
        _check_pure("run_parity")

    def test_two_runs_in_one_word(self):
        _check_pure("two_runs")

    def test_chained_steps_build_longer_symbols(self):
        _check_pure("chained")

    def test_tie_breaks_lexicographic(self):
        _check_pure("tie_break")


@pytest.mark.parametrize("name", sorted(ANCHORS))
def test_spark_trainer_anchor(spark, name):
    """The same anchors through the one-task mapInPandas trainer, which
    trains BPE_STEPS merges: the anchor's merges come first, and every
    row equals the pure-Python trainer's."""
    words, steps, merges, _ = ANCHORS[name]
    vocab = _vocab(spark, words)
    expected, states = _train(words, BPE_STEPS)
    assert expected[:steps] == merges
    got = bpe_trainer(vocab).collect()
    assert [tuple(r) for r in got] == [(k, *m) for k, m in enumerate(expected, 1)]
    final = {r.word: list(r.syms) for r in bpe_trainer(vocab, words=True).collect()}
    assert final == ({w: s for w, s in zip(words, states)} if states else {})


class TestEdges:
    def test_empty_corpus_pure(self):
        assert bpe_train([]) == ([], [])

    def test_single_char_words_pure(self):
        assert bpe_train([(["a"], 3), (["b"], 1)]) == ([], [])

    def test_exhausted_before_steps_pure(self):
        # one merge joins 'ab' into a single symbol; no pair is left
        merges, states = bpe_train([(["a", "b"], 2)], BPE_STEPS)
        assert merges == [("a", "b", 2)]
        # the oracles' relational spelling leaves no symbol rows once a
        # step has no winner; the trainer keeps that behaviour
        assert states == []

    @pytest.mark.parametrize(
        "words", [{}, {"a": 3, "b": 1}], ids=["empty", "single_char"]
    )
    def test_no_pairs_zero_rows_with_schema(self, spark, words):
        vocab = _vocab(spark, words)
        merges = bpe_trainer(vocab)
        assert merges.collect() == []
        assert merges.schema == spark.createDataFrame([], MERGES_SCHEMA).schema
        enc = bpe_trainer(vocab, words=True)
        assert enc.collect() == []
        assert enc.schema == spark.createDataFrame([], WORDS_SCHEMA).schema

    def test_exhausted_before_steps_spark(self, spark):
        got = bpe_trainer(_vocab(spark, {"ab": 2, "c": 1})).collect()
        assert [tuple(r) for r in got] == [(1, "a", "b", 2)]

    def test_empty_corpus_registered_queries(self, spark, sf_dir, tmp_path):
        """Both registered BPE queries over a corpus with no documents:
        zero rows, declared columns, no Spark error."""
        from etl_generator_demo_spark.registry import REGISTRY, load_all

        load_all()
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(0).write.parquet(
            str(tmp_path / "documents.parquet")
        )
        steps = REGISTRY["x4_bpe_merge_steps"].fn(spark, str(tmp_path))
        assert steps.collect() == []
        assert steps.columns == ["step", "left_sym", "right_sym", "pair_count"]
        enc = REGISTRY["x4_bpe_encode_corpus"].fn(spark, str(tmp_path))
        assert enc.collect() == []
        assert "n_bpe_tokens" in enc.columns


def test_bpe_encode_compresses(spark, sf_dir):
    out = x4_bpe_encode_corpus(spark, sf_dir).collect()
    assert out
    for r in out:
        # merges only shrink: chars >= bpe tokens >= words
        assert r["n_chars"] >= r["n_bpe_tokens"] >= r["n_words"]
        assert r["chars_per_token_e6"] >= 1_000_000


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


def test_bpe_last_apply_skipped_rows_identical(spark):
    """x4_bpe_merge_steps skips the dead final apply (the state after the
    last winner feeds nothing). Its winner rows must match the trainer
    that applies every step, on a corpus where merges cascade (the
    step-2 winner only exists after step 1 applied)."""
    from etl_generator_demo_spark.operators.bpe import (
        BPE_STEPS,
        bpe_train,
        bpe_trainer,
        corpus_words,
        vocabulary,
    )

    docs = spark.createDataFrame(
        [(i, "abab abc abab cab") for i in range(3)], "doc_id long, text string"
    )
    vocab = vocabulary(corpus_words(docs))
    words = [(list(r.word), r.wcount) for r in vocab.collect()]
    with_last_apply, _ = bpe_train(words, BPE_STEPS)
    assert len(with_last_apply) == BPE_STEPS
    got = bpe_trainer(vocab).collect()
    assert [tuple(r) for r in got] == [
        (k, *m) for k, m in enumerate(with_last_apply, 1)
    ]


def test_bpe_last_apply_skipped_pure():
    """The same invariant on the pure-Python trainer."""
    from etl_generator_demo_spark.operators.bpe import BPE_STEPS, bpe_train

    words = [(list("abab"), 6), (list("abc"), 3), (list("cab"), 3)]
    skipped, none = bpe_train(words, BPE_STEPS, final_state=False)
    applied, states = bpe_train(words, BPE_STEPS)
    assert none is None and states
    assert skipped == applied
