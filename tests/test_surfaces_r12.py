"""Closed-form pins for the round-12 surfaces on planted data: DSIR
weights recomputed by hand, the rematerialize cut-boundary invariant
exercised with a REAL boundary-gram collision, and exact-rational
t-closeness."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        [(i, text, lang, "srcT", len(text)) for i, (text, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_dsir_weights_closed_form(spark, tmp_path):
    """Hand-computable corpus: target 'a b a b' (bigrams a_b x2,
    b_a x1, Nt=3); pool docs 'a b c' and 'c c c' (a_b, b_c, c_c x2,
    Nr=4); V=4 distinct bigrams. Expected per-bigram log ratios and
    per-doc sums recomputed with math.log."""
    from etl_generator_demo_spark.operators.surfaces_r12 import (
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


def test_rematerialize_and_boundary_collision(spark, tmp_path):
    """doc0 owns the shared 5-token span; doc1 loses it, and the cut
    makes 'p1 p2 p3 p4 q1' adjacent — which doc2 contains verbatim.
    The audit must classify that residual duplicate as a BOUNDARY
    artifact (original positional span > K-1) and report zero intact
    survivors — the removal-completeness invariant."""
    from etl_generator_demo_spark.operators.surfaces_r12 import (
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


def test_t_closeness_exact_rational(spark, tmp_path):
    """Two classes, global x:6 y:2 -> both classes sit at TV=0.25
    exactly (tv_e6 = 250000, breach at the 0.2 gate)."""
    import datetime as dt

    from etl_generator_demo_spark.operators.surfaces_r12 import (
        x4_t_closeness_audit,
    )

    base = dt.datetime(2024, 3, 1, 9, 0, 0)
    rows = []
    # class (day, bucket 0): x, x, y, y   -- values 0..9
    for i, et in enumerate(["x", "x", "y", "y"]):
        rows.append((i, base, 7 + i, et, 5.0, "{}"))
    # class (day, bucket 1): x, x, x, x   -- values 10..19
    for i, et in enumerate(["x", "x", "x", "x"]):
        rows.append((10 + i, base, 7 + i, et, 15.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = x4_t_closeness_audit(spark, str(tmp_path)).collect()
    assert len(got) == 2
    for r in got:
        assert r["class_size"] == 4
        assert r["tv_e6"] == 250_000
        assert r["risk"] == "breach"


def test_cdc_chunking_is_shift_resistant(spark, tmp_path):
    """The CDC argument, demonstrated: a single token prepended to a
    40-token document kills every fixed-16-block match
    (x4_chunk_level_dedup finds nothing) while CDC boundaries
    resynchronize right after the edit and the shared suffix chunks
    still dedup."""
    from etl_generator_demo_spark.operators.packing import (
        x4_chunk_level_dedup,
    )
    from etl_generator_demo_spark.operators.surfaces_r12 import (
        x2_cdc_chunk_dedup,
    )

    base = " ".join(f"w{i}" for i in range(40))
    _write_documents(
        spark, str(tmp_path), [(base, "en"), ("xnew " + base, "en")]
    )
    cdc = x2_cdc_chunk_dedup(spark, str(tmp_path)).collect()
    assert len(cdc) >= 5  # resynchronized shared chunks found
    assert all(r["n_docs"] == 2 and r["owner_doc"] == 0 for r in cdc)
    # >=70% of tokens recovered as duplicated content despite the shift
    assert sum(r["chunk_tokens"] for r in cdc) >= 28
    assert x4_chunk_level_dedup(spark, str(tmp_path)).count() == 0


def test_perplexity_filter_orders_repetitive_text_lower(spark, tmp_path):
    """A maximally predictable doc (one repeated bigram) must score a
    LOWER cross-entropy than a doc of unique bigrams under the same
    corpus LM."""
    from etl_generator_demo_spark.operators.surfaces_r12 import (
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
