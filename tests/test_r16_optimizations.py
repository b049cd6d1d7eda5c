"""Focused pins for the round-16 optimization rewrites: each changed
operator internal keeps its exact pre-rewrite semantics on planted
data (the oracle rows pin the fixture corpora; these pin the edge
cases the rewrites touch)."""

from __future__ import annotations

from pyspark.sql import functions as F


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


def test_jaccard_sweep_single_pass_matches_brute_recount(spark, tmp_path):
    """The conditional-aggregation sweep (r16: one flag projection, two
    aggregates) must equal the per-threshold recount it replaced —
    including a threshold bucket with ZERO qualifying pairs (the
    sum-over-empty -> 0, never NULL, edge)."""
    from etl_generator_demo_spark.operators.surfaces_r10c import (
        JACCARD_SWEEP,
        x2_jaccard_threshold_sweep,
    )
    from etl_generator_demo_spark.operators.dedup import doc_shingles
    from etl_generator_demo_spark.operators.relational import t

    _write_documents(
        spark,
        str(tmp_path),
        [
            ("a b c d e f g h", "en"),
            ("a b c d e f g z", "en"),   # high overlap with doc0
            ("p q r s t u v w", "en"),   # no overlap
        ],
    )
    got = {
        r["tau_e2"]: r
        for r in x2_jaccard_threshold_sweep(spark, str(tmp_path)).collect()
    }
    # brute recount per threshold from first principles
    sh = doc_shingles(t(spark, str(tmp_path), "documents"))
    sets = {
        r["doc_id"]: set(r["s"])
        for r in sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s")).collect()
    }
    ids = sorted(sets)
    for num, den in JACCARD_SWEEP:
        pairs = [
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if len(sets[a] & sets[b]) * den
            >= num * len(sets[a] | sets[b])
            and len(sets[a] & sets[b]) > 0
        ]
        docs = {d for p in pairs for d in p}
        assert got[num]["n_pairs"] == len(pairs), (num, pairs)
        assert got[num]["n_docs_in_pairs"] == len(docs), (num, docs)
    # the planted corpus must actually exercise the empty bucket
    assert got[90]["n_pairs"] == 0 and got[90]["n_docs_in_pairs"] == 0


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


def test_matryoshka_cascade_prefix_sums_bit_exact(spark):
    """The cascaded prefix folds (r16: the p=16 dot continues the p=8
    partial) must be BIT-identical to fresh sequential folds over each
    prefix — same op order, so the committed e6-floored hashes cannot
    move."""
    from etl_generator_demo_spark.operators.similarity import _dot

    import random

    rng = random.Random(7)
    a = [rng.uniform(-1, 1) for _ in range(64)]
    b = [rng.uniform(-1, 1) for _ in range(64)]
    df = spark.createDataFrame(
        [(a, b)], "va array<double>, vb array<double>"
    )
    prod = F.zip_with("va", "vb", lambda x, y: x * y)
    df = df.withColumn("_p", prod)
    # fresh folds
    fresh = df.select(
        *[
            F.aggregate(
                F.slice("_p", 1, c), F.lit(0.0), lambda s, v: s + v
            ).alias(f"f{c}")
            for c in (8, 16, 32, 64)
        ]
    ).first()
    # cascaded folds (the query's spelling)
    prev, prev_cut, cols = F.lit(0.0), 0, []
    for c in (8, 16, 32, 64):
        s = F.aggregate(
            F.slice("_p", prev_cut + 1, c - prev_cut), prev, lambda s_, v: s_ + v
        )
        cols.append(s.alias(f"c{c}"))
        prev, prev_cut = s, c
    casc = df.select(*cols).first()
    for c in (8, 16, 32, 64):
        assert fresh[f"f{c}"] == casc[f"c{c}"]  # bit-exact, not approx
    # and both equal the engine's canonical _dot on the full vector
    full = df.select(_dot(F.col("va"), F.col("vb")).alias("d")).first()["d"]
    assert full == casc["c64"]
