"""Exact substring-level dedup (Lee et al. 2022 ExactSubstr spelling).

Closed-form anchors on constructed corpora: a known shared span must
be reported at exactly its length, sub-threshold overlaps must NOT
appear, and coverage must equal the hand-computed interval union.
The sf fixtures are oracle-gated (tools/oracle_check.py); these tests
pin the operator algebra itself.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.dedup_substr import (
    SPAN_K,
    SPAN_T,
    _coverage,
    x2_duplicated_token_fraction,
    x2_exact_substr_corpus_rate,
    x2_exact_substr_spans,
)
from etl_generator_demo_spark.operators.textops import winnowing_fingerprints
from etl_generator_demo_spark.operators.tokens import kgram_hashes


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


class TestSpanDetection:
    def test_shared_span_reported_at_exact_length(self, spark, tmp_path):
        # doc 0 and doc 1 share exactly a 10-token run; everything else
        # unique -> one span of 10 tokens
        shared = _words("s", 10)
        rows = [
            (0, _words("a", 6) + " " + shared + " " + _words("b", 6)),
            (1, _words("c", 4) + " " + shared + " " + _words("d", 8)),
        ]
        self._roundtrip_and_assert(spark, tmp_path, rows, [(0, 1, 1, 10)])

    def test_sub_threshold_span_not_reported(self, spark, tmp_path):
        # a shared run of SPAN_T - 1 tokens is below the operator's
        # threshold: no pair row
        shared = _words("s", SPAN_T - 1)
        rows = [
            (0, _words("a", 8) + " " + shared),
            (1, shared + " " + _words("b", 8)),
        ]
        self._roundtrip_and_assert(spark, tmp_path, rows, [])

    def test_two_disjoint_spans_counted(self, spark, tmp_path):
        s1, s2 = _words("x", SPAN_T), _words("y", SPAN_T + 3)
        rows = [
            (0, s1 + " " + _words("a", 6) + " " + s2),
            (1, s2 + " " + _words("b", 6) + " " + s1),
        ]
        # two maximal spans; max length SPAN_T + 3
        self._roundtrip_and_assert(spark, tmp_path, rows, [(0, 1, 2, SPAN_T + 3)])

    def _roundtrip_and_assert(self, spark, tmp_path, rows, expect):
        path = str(tmp_path / "documents.parquet")
        _docs(spark, rows).write.mode("overwrite").parquet(path)
        got = [
            (r.doc_a, r.doc_b, r.n_spans, r.max_span_tokens)
            for r in x2_exact_substr_spans(spark, str(tmp_path)).collect()
        ]
        assert got == expect


class TestWinnowingRecallGuarantee:
    def test_candidates_cover_every_threshold_span(self, spark):
        """Any pair sharing a run >= SPAN_T tokens must share a
        winnowing fingerprint (the lossless-candidate premise that
        lets the oracle skip the winnowing stage)."""
        shared = _words("s", SPAN_T)
        d = _docs(
            spark,
            [
                (0, _words("a", 9) + " " + shared),
                (1, shared + " " + _words("b", 11)),
                (2, _words("c", 30)),  # no overlap with anyone
            ],
        )
        fps = winnowing_fingerprints(d)
        both = (
            fps.groupBy("fp")
            .agg(F.collect_set("doc_id").alias("ds"))
            .filter(F.array_contains("ds", 0) & F.array_contains("ds", 1))
        )
        assert both.count() >= 1
        with2 = fps.filter(F.col("doc_id") == 2).join(
            fps.filter(F.col("doc_id") != 2), "fp", "semi"
        )
        assert with2.count() == 0


class TestCoverage:
    def test_interval_union_exact(self, spark, tmp_path):
        # doc 0: 6 unique + 10 shared + 6 unique = 22 tokens; coverage
        # = the 10-token span exactly (interval union of 10-K+1 starts)
        shared = _words("s", 10)
        rows = [
            (0, _words("a", 6) + " " + shared + " " + _words("b", 6)),
            (1, _words("c", 7) + " " + shared),
        ]
        path = str(tmp_path / "documents.parquet")
        _docs(spark, rows).write.mode("overwrite").parquet(path)
        got = {
            r.doc_id: (r.n_tokens, r.n_dup_tokens, r.dup_frac_e6)
            for r in x2_duplicated_token_fraction(spark, str(tmp_path)).collect()
        }
        assert got[0] == (22, 10, 10 * 1_000_000 // 22)
        assert got[1] == (17, 10, 10 * 1_000_000 // 17)

    def test_overlapping_kgrams_not_double_counted(self, spark, tmp_path):
        # shared run of exactly K tokens -> a single shared K-gram ->
        # coverage K, not (#grams * K)
        shared = _words("s", SPAN_K)
        rows = [
            (0, shared + " " + _words("a", 10)),
            (1, _words("b", 10) + " " + shared),
        ]
        path = str(tmp_path / "documents.parquet")
        _docs(spark, rows).write.mode("overwrite").parquet(path)
        got = {
            r.doc_id: r.n_dup_tokens
            for r in _coverage(spark, str(tmp_path)).collect()
        }
        assert got == {0: SPAN_K, 1: SPAN_K}

    def test_corpus_rate_sums_coverage(self, spark, tmp_path):
        shared = _words("s", 10)
        rows = [
            (0, shared + " " + _words("a", 10)),  # 20 tokens, 10 dup
            (1, shared),  # 10 tokens, 10 dup
            (2, _words("z", 12)),  # clean
        ]
        path = str(tmp_path / "documents.parquet")
        _docs(spark, rows).write.mode("overwrite").parquet(path)
        row = x2_exact_substr_corpus_rate(spark, str(tmp_path)).first()
        assert (row.n_docs, row.n_docs_with_dup) == (3, 2)
        assert (row.total_tokens, row.total_dup_tokens) == (42, 20)
        assert row.corpus_dup_frac_e6 == 20 * 1_000_000 // 42


class TestKgramRelation:
    def test_full_grams_only(self, spark):
        d = _docs(spark, [(0, _words("t", SPAN_K + 2))])
        kg = kgram_hashes(d).collect()
        # n - K + 1 full K-grams, 0-based start positions
        assert sorted(r.pos for r in kg) == [0, 1, 2]
        assert all(len(r.h) == 32 for r in kg)

    def test_short_doc_yields_no_grams(self, spark):
        d = _docs(spark, [(0, _words("t", SPAN_K - 1))])
        assert kgram_hashes(d).count() == 0


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        [(i, text, lang, "srcT", len(text)) for i, (text, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_rematerialize_and_boundary_collision(spark, tmp_path):
    """doc0 owns the shared 5-token span; doc1 loses it, and the cut
    makes 'p1 p2 p3 p4 q1' adjacent — which doc2 contains verbatim.
    The audit must classify that residual duplicate as a BOUNDARY
    artifact (original positional span > K-1) and report zero intact
    survivors — the removal-completeness invariant."""
    from etl_generator_demo_spark.operators.dedup_substr import (
        x2_rematerialize_boundary_audit,
        x2_removal_rematerialize,
    )

    span = "s1 s2 s3 s4 s5"
    _write_documents(
        spark,
        str(tmp_path),
        [
            (span, "en"),  # doc0: owner, kept intact
            (f"p1 p2 p3 p4 {span} q1 q2 q3 q4", "en"),  # doc1: cut
            ("p1 p2 p3 p4 q1", "en"),  # doc2: matches the boundary gram
        ],
    )
    rows = {
        r["doc_id"]: r
        for r in x2_removal_rematerialize(spark, str(tmp_path)).collect()
    }
    assert rows[0]["kept_text"] == span
    assert rows[1]["kept_text"] == "p1 p2 p3 p4 q1 q2 q3 q4"
    assert rows[1]["n_kept_tokens"] == 8 and rows[1]["n_tokens"] == 13
    assert rows[2]["kept_text"] == "p1 p2 p3 p4 q1"

    audit = x2_rematerialize_boundary_audit(spark, str(tmp_path)).first()
    assert audit["n_docs"] == 3 and audit["n_docs_cut"] == 1
    assert audit["n_tokens_total"] == 23 and audit["n_kept_total"] == 18
    assert audit["residual_dup_hashes"] == 1
    assert audit["boundary_dup_hashes"] == 1
    assert audit["intact_dup_hashes"] == 0  # the invariant


def test_dedup_shift_zero_on_dupfree_corpus(spark, tmp_path):
    """A corpus with no cross-doc duplicated K-grams removes nothing:
    post == pre, KL exactly 0, token/type counts equal."""
    from etl_generator_demo_spark.operators.dedup_substr import (
        x2_dedup_distribution_shift,
    )

    texts = [
        " ".join(f"a{i}w{j}" for j in range(20)) for i in range(4)
    ]
    spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = x2_dedup_distribution_shift(spark, str(tmp_path)).first()
    assert r["n_tokens_pre"] == r["n_tokens_post"] == 80
    assert r["n_types_pre"] == r["n_types_post"] == 80
    assert r["kl_post_pre_e6"] == 0


def test_rematerialize_fully_removed_doc_is_null(spark, tmp_path):
    """The array-based rebuild must keep the left-join NULL
    contract of the exploded spelling: a doc whose every token is
    removed yields n_kept_tokens 0 and kept_text NULL; a doc with no
    removals rebuilds to its original text byte-for-byte."""
    from etl_generator_demo_spark.operators.dedup_substr import (
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
