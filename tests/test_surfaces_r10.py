"""Anchors and invariants for the round-10 operator batch."""

from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.surfaces_r10 import (
    SAMPLE_N,
    x4_gopher_quality_rules,
    x4_item_item_recs,
    x4_stratified_proportional_sample,
)
from etl_generator_demo_spark.operators.stats import x4_ndcg_eval
from etl_generator_demo_spark.operators.surfaces_r10b import (
    _morton_expr,
    x4_bpe_encode_corpus,
    x4_curriculum_shards,
)

SF = "/root/testdata/sf0.001"


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


# ---------------------------------------------------------------------------
# morton code
# ---------------------------------------------------------------------------

def test_morton_formula_interleaves_bits():
    """The generated arithmetic formula IS valid Python with '//' —
    evaluate it directly against a reference bit-interleave."""
    expr = _morton_expr("px", "py", "//")

    def ref(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for px, py in [(0, 0), (3, 5), (255, 0), (0, 255), (170, 85), (255, 255)]:
        assert eval(expr) == ref(px, py), (px, py)


# ---------------------------------------------------------------------------
# gopher rules
# ---------------------------------------------------------------------------

def test_gopher_rules_hand_fixture(spark, tmp_path):
    good = "the quick brown fox and the lazy dog sit in a field of grass"
    short = "too short"  # 2 words: fails word-count + stopword rules
    digits = "the " * 6 + "1234567890 " * 12  # digit-heavy
    _write_docs(
        spark,
        str(tmp_path),
        [
            (1, good, "en", "web", len(good)),
            (2, short, "en", "web", len(short)),
            (3, digits.strip(), "en", "web", len(digits.strip())),
        ],
    )
    rows = {r["source"]: r for r in x4_gopher_quality_rules(spark, str(tmp_path)).collect()}
    w = rows["web"]
    assert w["n_docs"] == 3
    assert w["pass_word_count"] == 2  # 'too short' (2 words) fails 5..1000
    # good has {'the','and','a','of','in'}; digits doc has only {'the'}
    assert w["pass_stopwords"] == 1
    assert w["pass_digit_fraction"] == 2  # digit doc fails
    assert w["keep_all"] == 1  # only the good doc passes everything


# ---------------------------------------------------------------------------
# stratified sample
# ---------------------------------------------------------------------------

def test_stratified_quotas_sum_to_target_and_cap_at_stratum(spark, tmp_path):
    rows = []
    for i in range(5):
        rows.append((i, "aa bb", "en", "s", 5))
    for i in range(5, 8):
        rows.append((i, "cc dd", "ko", "s", 5))
    for i in range(8, 10):
        rows.append((i, "ee ff", "de", "s", 5))
    _write_docs(spark, str(tmp_path), rows)
    out = x4_stratified_proportional_sample(spark, str(tmp_path)).collect()
    quotas = {r["lang"]: r["quota"] for r in out}
    # Hamilton on (5,3,2)/10 at N=100 -> exactly (50,30,20)
    assert quotas == {"en": 50, "ko": 30, "de": 20}
    assert sum(quotas.values()) == SAMPLE_N
    # quota > stratum size: selection takes the whole stratum
    for r in out:
        assert r["n_selected"] == r["n_docs"]


# ---------------------------------------------------------------------------
# item-item recs
# ---------------------------------------------------------------------------

def test_item_item_recs_invariants(spark):
    out = x4_item_item_recs(spark, SF).collect()
    assert out, "fixture produces co-purchase pairs"
    by_item = {}
    for r in out:
        by_item.setdefault(r["item"], []).append(r)
        assert r["cooc"] >= 2
        assert 0 <= r["score_e6"] <= 1_000_000  # cosine^2 in [0, 1]
    for item, rows in by_item.items():
        ranks = sorted(r["rnk"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        scores = [r["score_e6"] for r in sorted(rows, key=lambda r: r["rnk"])]
        assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# curriculum shards
# ---------------------------------------------------------------------------

def test_curriculum_shards_balanced(spark):
    out = x4_curriculum_shards(spark, SF).collect()
    sizes = [r["n_docs"] for r in out]
    assert max(sizes) - min(sizes) <= 1  # round-robin deal
    assert len(out) <= 8
    total = sum(sizes)
    assert sorted(r["shard"] for r in out) == list(range(len(out)))
    # rank ranges cover 1..total across shards
    assert min(r["first_rn"] for r in out) == 1
    assert max(r["last_rn"] for r in out) == total


# ---------------------------------------------------------------------------
# vector norm audit
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# NDCG
# ---------------------------------------------------------------------------

def test_ndcg_bounded_and_consistent(spark):
    r = x4_ndcg_eval(spark, SF).collect()[0]
    assert 0 < r["ndcg_e6"] <= 1_000_000
    assert r["dcg_e6"] <= r["idcg_e6"]
    assert r["n_ranked"] <= 20


# ---------------------------------------------------------------------------
# BPE encode
# ---------------------------------------------------------------------------

def test_bpe_encode_compresses(spark):
    out = x4_bpe_encode_corpus(spark, SF).collect()
    assert out
    for r in out:
        # merges only shrink: chars >= bpe tokens >= words
        assert r["n_chars"] >= r["n_bpe_tokens"] >= r["n_words"]
        assert r["chars_per_token_e6"] >= 1_000_000


# ---------------------------------------------------------------------------
# morton property tests (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_MORTON = _morton_expr("px", "py", "//")


def _ref_interleave(x, y):
    z = 0
    for i in range(8):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 255), st.integers(0, 255))
def test_morton_formula_matches_reference(px, py):
    assert eval(_MORTON) == _ref_interleave(px, py)


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 255), st.integers(0, 255))
def test_morton_is_injective_on_the_grid(px, py):
    """The interleave is a bijection [0,255]^2 -> [0,65535]: decode by
    de-interleaving and recover the inputs exactly."""
    z = _ref_interleave(px, py)
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(8))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
    assert (rx, ry) == (px, py)
    assert 0 <= z <= 65535


