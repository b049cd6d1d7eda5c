"""Pins for the decontamination family (operators/decontam.py).

The oracle gate proves Spark == DuckDB on the fixtures; the planted
tests prove both equal the intended semantics on inputs small enough
to hand-verify, and the degenerate-input sweep runs all nine queries
against DuckDB on cut-down fixtures (empty tables, one-sided splits,
zero-norm vectors).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _write_docs(spark, path, rows):
    """rows: list of (doc_id, text). lang/source/n_chars derived."""
    spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _write_embeddings(spark, path, rows):
    """rows: list of (vec_id, [floats], label)."""
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def _planted_tiers(spark, path):
    """Eval doc 7; doc 1 copies its text verbatim (exact and fuzzy hit);
    doc 3's embedding is parallel to the eval embedding (semantic-only
    hit); everything else shares nothing with the eval doc."""
    bench = " ".join(f"q{i}" for i in range(40))
    _write_docs(
        spark,
        path,
        [
            (i, bench if i in (1, 7) else " ".join(f"d{i}w{j}" for j in range(8)))
            for i in range(10)
        ],
    )
    embs = []
    for i in range(10):
        if i == 7:
            embs.append((i, [1.0, 0.0], 0))
        elif i == 3:
            embs.append((i, [3.0, 0.0], 0))
        else:
            embs.append((i, [0.0, float(i + 1)], 1))
    _write_embeddings(spark, path, embs)


class TestDecontaminate:
    @pytest.mark.usefixtures("tmp_index_root")
    def test_planted_overlap_flagged_and_broadcast(self, spark, tmp_path):
        """A corpus doc copying a 5-token span from a benchmark doc is
        flagged with the exact distinct-shingle overlap count; disjoint
        docs stay clean; the benchmark shingle set is broadcast."""
        from etl_generator_demo_spark.operators.decontam import x4_decontaminate

        bench_text = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                # doc 7 = benchmark (7 % 20 == 7)
                (7, bench_text, "en", "wiki", len(bench_text)),
                # doc 33 (33 % 20 = 13 -> corpus) copies tokens 3..8 of the
                # benchmark doc -> shares 2 distinct 5-shingles
                (33, "x y gamma delta epsilon zeta eta theta q r", "en", "web", 10),
                # doc 3 disjoint
                (3, "one two three four five six seven eight", "en", "web", 10),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.parquet(str(tmp_path / "documents.parquet"))
        out = x4_decontaminate(spark, str(tmp_path))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        rows = [(r["doc_id"], r["n_shared_shingles"]) for r in out.collect()]
        assert rows == [(33, 2)]


def test_decontam_sweep_monotone_in_n(spark, sf_dir):
    """An n-gram match implies all sub-(n-1)-gram matches, so flagged
    docs and shared mass are monotone non-increasing as n grows."""
    from etl_generator_demo_spark.operators.decontam import x4_decontam_ngram_sweep

    rows = x4_decontam_ngram_sweep(spark, sf_dir).collect()
    flagged = [r["n_flagged_train_docs"] for r in rows]
    mass = [r["sum_shared_ngrams"] for r in rows]
    assert flagged == sorted(flagged, reverse=True)
    assert mass == sorted(mass, reverse=True)
    assert len({r["n_eval_docs"] for r in rows}) == 1  # same split per n


@pytest.mark.slow
def test_fuzzy_decontam_flags_planted_neardup(spark, tmp_path):
    """Doc 7 is the eval doc (7 % 20 == 7). Train doc 1 is the same
    text plus one appended token — shingle Jaccard 36/37 (~0.973),
    far above tau and guaranteed LSH-candidate at that similarity.
    Every other train doc shares nothing. Exact expected hit:
    max_j_e6 = floor(36/37 * 1e6)."""
    from etl_generator_demo_spark.operators.decontam import x4_fuzzy_decontam

    bench = " ".join(f"q{i}" for i in range(40))  # 40 tokens, 36 shingles
    rows = []
    for i in range(10):
        if i == 7:
            rows.append((i, bench))
        elif i == 1:
            rows.append((i, bench + " ztail"))
        else:
            rows.append((i, " ".join(f"d{i}w{j}" for j in range(8))))
    _write_docs(spark, str(tmp_path), rows)
    got = {
        r["train_doc"]: r for r in x4_fuzzy_decontam(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1}
    assert got[1]["n_eval_neardups"] == 1
    assert got[1]["max_j_e6"] == 36 * 1_000_000 // 37


def test_semantic_decontam_flags_planted_axis_match(spark, tmp_path):
    """Eval vec is id 7 (7 % 20 == 7) on axis 0. Train vec 1 lies on
    the same axis (cosine exactly 1.0 -> 1_000_000 e6); every other
    train vec is orthogonal (cosine 0 < tau). Exact expected hit set:
    {1} with max_cos_e6 = 1_000_000, n_eval_neardups = 1."""
    from etl_generator_demo_spark.operators.decontam import x3_semantic_decontam

    rows = []
    for i in range(10):
        if i == 7:
            rows.append((i, [1.0, 0.0, 0.0], 0))
        elif i == 1:
            rows.append((i, [2.0, 0.0, 0.0], 0))
        else:
            rows.append((i, [0.0, float(i + 1), 0.0], 1))
    _write_embeddings(spark, str(tmp_path), rows)
    got = {r["train_doc"]: r for r in x3_semantic_decontam(spark, str(tmp_path)).collect()}
    assert set(got) == {1}
    assert got[1]["n_eval_neardups"] == 1
    assert got[1]["max_cos_e6"] == 1_000_000


@pytest.mark.usefixtures("tmp_index_root")
def test_indexed_decontam_matches_brute_on_planted_corpus(spark, tmp_path):
    """End-to-end: the indexed decontam rollup equals the brute audit
    tier row-for-row on a planted corpus with hits."""
    from etl_generator_demo_spark.operators.decontam import (
        x3_semantic_decontam,
        x3_semantic_decontam_indexed,
    )

    rows = []
    for i in range(30):
        if i % 20 == 7:  # eval
            rows.append((i, [1.0, 0.0, 0.0], 0))
        elif i % 3 == 0:  # near eval axis
            rows.append((i, [5.0, 1.0, 0.0], 0))
        else:
            rows.append((i, [0.0, 0.0, float(i + 1)], 1))
    _write_embeddings(spark, str(tmp_path), rows)
    idx = [tuple(r) for r in x3_semantic_decontam_indexed(spark, str(tmp_path)).collect()]
    brute = [tuple(r) for r in x3_semantic_decontam(spark, str(tmp_path)).collect()]
    assert idx == brute
    assert len(idx) >= 5


@pytest.mark.usefixtures("tmp_index_root")
def test_recall_row_is_one(spark, tmp_path):
    from etl_generator_demo_spark.operators.decontam import (
        x3_semantic_decontam_recall,
    )

    rows = []
    for i in range(30):
        if i % 20 == 7:
            rows.append((i, [1.0, 1.0, 0.0], 0))
        else:
            rows.append((i, [1.0, float(i % 5), 0.0], 1))
    _write_embeddings(spark, str(tmp_path), rows)
    (row,) = x3_semantic_decontam_recall(spark, str(tmp_path)).collect()
    assert row["n_flagged_indexed"] == row["n_flagged_exact"] == row["n_overlap"]
    assert row["recall_e6"] == 1_000_000


@pytest.mark.slow
def test_decontam_funnel_is_monotone_and_tier_attributed(spark, tmp_path):
    """Doc 1 (verbatim eval copy) dies at the EXACT gate; any fuzzy hit
    (shingle Jaccard >= 0.5) shares shingles, so the fuzzy stage can
    only remove docs the exact stage missed — here none; doc 3 (text
    shares nothing, embedding parallel to the eval's) dies at the
    SEMANTIC gate only. Expected: 9 train docs total; stage2 = 8;
    stage3 = 8; stage4 = 7. Token counts track the removed docs
    exactly."""
    from etl_generator_demo_spark.operators.decontam import x4_decontam_funnel

    _planted_tiers(spark, str(tmp_path))
    out = {r["stage_no"]: r for r in x4_decontam_funnel(spark, str(tmp_path)).collect()}
    assert [out[i]["stage"] for i in (1, 2, 3, 4)] == [
        "train_total",
        "after_exact_ngram",
        "after_fuzzy_minhash",
        "after_semantic_cosine",
    ]
    assert out[1]["n_docs"] == 9
    assert out[2]["n_docs"] == 8  # doc 1 (verbatim eval copy) removed
    assert out[3]["n_docs"] == 8  # fuzzy adds nothing the exact gate missed
    assert out[4]["n_docs"] == 7  # doc 3 (semantic-only hit) removed
    assert out[1]["n_tokens"] - out[2]["n_tokens"] == 40  # doc 1's tokens
    assert out[3]["n_tokens"] - out[4]["n_tokens"] == 8  # doc 3's tokens
    # monotone non-increasing by construction
    counts = [out[i]["n_docs"] for i in (1, 2, 3, 4)]
    assert counts == sorted(counts, reverse=True)


@pytest.mark.slow
def test_tier_overlap_cells_partition_the_flagged_set(spark, tmp_path):
    """Same plant as the funnel: doc 1 is exact+fuzzy flagged (verbatim
    copy hits both gates — they share all shingles), doc 3 is
    semantic-only. Expected cells: (T,T,F)=1 and (F,F,T)=1."""
    from etl_generator_demo_spark.operators.decontam import x4_decontam_tier_overlap

    _planted_tiers(spark, str(tmp_path))
    got = {
        (r["has_exact"], r["has_fuzzy"], r["has_semantic"]): r["n_docs"]
        for r in x4_decontam_tier_overlap(spark, str(tmp_path)).collect()
    }
    assert got == {(True, True, False): 1, (False, False, True): 1}


# ---------------------------------------------------------------------------
# Degenerate inputs: all nine family queries against their DuckDB
# oracles on the sf0.001 fixture with one table cut down.
# ---------------------------------------------------------------------------


def _degenerate_table(spark, sf_dir, shape):
    """(table, frame) for one degenerate-input shape."""
    from etl_generator_demo_spark.operators.decontam import is_eval

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if shape == "empty_documents":
        return "documents", docs.limit(0)
    if shape == "empty_embeddings":
        return "embeddings", emb.limit(0)
    if shape == "no_eval_docs":
        return "documents", docs.filter(~is_eval())
    if shape == "only_eval_docs":
        return "documents", docs.filter(is_eval())
    if shape == "no_eval_vectors":
        return "embeddings", emb.filter(~is_eval("vec_id"))
    zero = F.array_repeat(F.lit(0.0).cast("float"), F.size("embedding"))
    return "embeddings", emb.withColumn(  # zero_norm_vectors
        "embedding",
        F.when(F.col("vec_id").isin(0, 7, 27), zero).otherwise(F.col("embedding")),
    )


@pytest.mark.parametrize(
    "shape",
    [
        "empty_documents",
        "empty_embeddings",
        pytest.param("no_eval_docs", marks=pytest.mark.slow),
        pytest.param("only_eval_docs", marks=pytest.mark.slow),
        pytest.param("no_eval_vectors", marks=pytest.mark.slow),
        pytest.param("zero_norm_vectors", marks=pytest.mark.slow),
    ],
)
def test_degenerate_inputs_match_oracle(
    spark, sf_dir, replace_table, oracle_mismatches, shape
):
    from etl_generator_demo_spark.registry import load_all

    d = replace_table(*_degenerate_table(spark, sf_dir, shape))
    names = [
        n
        for n, rq in load_all().items()
        if rq.fn.__module__ == "etl_generator_demo_spark.operators.decontam"
    ]
    assert len(names) == 9
    bad = oracle_mismatches(d, names)
    assert not bad, bad
