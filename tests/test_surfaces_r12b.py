"""Planted-data pins for the round-12 batch-6 X5 surfaces: the pHash
Hamming near-dup finds EXACTLY the one-bit re-encodes, and scene-cut
detection segments a hand-built clip at the hand-placed cut."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.surfaces_r12b import (
    CUT_TAU_E6,
    PHASH_HAM_TAU,
    phash_relation,
    x5_phash_hamming_neardup,
    x5_scene_cut_detection,
)


def _write_documents(spark, path, n):
    spark.createDataFrame(
        [(i, f"doc {i} body tok{i % 7} tok{i % 3}", "en", "srcT", 20) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_phash_finds_exactly_the_planted_reencodes(spark, tmp_path):
    """10 docs -> every 5th (ids 0 and 5) gets a re-encoded twin whose
    64-bit fingerprint differs by exactly ONE bit. The banded join +
    exact verify must return exactly those two pairs at hamming=1 —
    random md5 pairs sit at ~32 bits and nearly never share a 16-bit
    band, so anything else in the output is a bug."""
    _write_documents(spark, str(tmp_path), 10)
    got = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in x5_phash_hamming_neardup(spark, str(tmp_path)).collect()
    }
    assert got == {(0, 1_000_000): 1, (5, 1_000_005): 1}


def test_phash_perturbation_is_one_bit(spark, tmp_path):
    """The re-encode twin's fingerprint XORs exactly one bit (the low
    bit of nibble media_id % 16) — the precedence regression pin:
    Spark parses `v ^ 1 + 1` as `v ^ 2`, which silently turns the
    planted perturbation into a 2-bit flip."""
    _write_documents(spark, str(tmp_path), 10)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    ph = {r["media_id"]: r["phash"] for r in phash_relation(docs).collect()}
    for base in (0, 5):
        a, b = ph[base], ph[base + 1_000_000]
        diffs = [
            (i, ca, cb) for i, (ca, cb) in enumerate(zip(a, b)) if ca != cb
        ]
        assert len(diffs) == 1
        i, ca, cb = diffs[0]
        assert i == base % 16
        assert int(ca, 16) ^ int(cb, 16) == 1


def test_scene_cut_segments_planted_clip(spark, tmp_path):
    """Clip 0: frames [1,0],[1,0],[0,1],[0,1] -> adjacent cosines
    1.0, 0.0, 1.0 -> exactly one cut (0 < tau) -> two segments."""
    assert 0 < CUT_TAU_E6 < 1_000_000 and PHASH_HAM_TAU < 32
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 1),
        (3, [0.0, 1.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = x5_scene_cut_detection(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (
        r["clip_id"],
        r["n_transitions"],
        r["n_cuts"],
        r["n_segments"],
        r["min_cos_e6"],
        r["sum_cos_e6"],
    ) == (0, 3, 1, 2, 0, 2_000_000)


def test_sq_bits_sweep_closed_form_and_monotone(spark, tmp_path):
    """Hand-computable corpus: v=[1.0, 0.5], max_abs=1. bits=2 (L=1):
    q=[1,0] -> dq=[1.0,0.0] -> SSE=0.25 exactly (sum_sse_e6=250000).
    More bits must never increase distortion or decrease recall."""
    from etl_generator_demo_spark.operators.surfaces_r12b import (
        x3_sq_bits_sweep,
    )

    rows = [
        (0, [1.0, 0.5], 0),
        (1, [0.5, 1.0], 0),
        (2, [-1.0, 0.25], 1),
        (3, [0.25, -1.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["bits"]: r for r in x3_sq_bits_sweep(spark, str(tmp_path)).collect()}
    assert set(out) == {2, 4, 8}
    assert out[2]["n_vectors"] == 4
    # vec 0: err [0, .5] -> .25; vec 1 symmetric -> .25;
    # vec 2: q=floor([-1, .25])=[-1, 0] -> err [0, .25] -> .0625; vec 3 same
    assert out[2]["sum_sse_e6"] == 250_000 * 2 + 62_500 * 2
    assert out[2]["sum_sse_e6"] >= out[4]["sum_sse_e6"] >= out[8]["sum_sse_e6"]
    assert out[2]["recall10_sum"] <= out[4]["recall10_sum"] <= out[8]["recall10_sum"]


@pytest.mark.slow
def test_bin_width_sweep_true_pairs_invariant(spark, tmp_path):
    """3 events for one user at t=0s, 30min, 90min: within-1h ordered
    pairs = (a,b) and (b,c) -> n_true_pairs = 2 at EVERY width (the
    no-lost-pairs invariant); day-wide buckets also catch the 90min
    (a,c) gap plus the reversed orders as candidates."""
    import datetime as dt

    from etl_generator_demo_spark.operators.surfaces_r12b import (
        j_range_bin_width_sweep,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (0, t0, 7, "view", 1.0, "{}"),
        (1, t0 + dt.timedelta(minutes=30), 7, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=90), 7, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r["bin_w_min"]: r for r in j_range_bin_width_sweep(spark, str(tmp_path)).collect()}
    assert set(out) == {15, 60, 240, 1440}
    for w in out:
        assert out[w]["n_true_pairs"] == 2
    # all three events share the day bucket: candidates = all 6
    # ordered distinct pairs
    assert out[1440]["n_candidates"] == 6
    # replication shrinks as buckets widen: 1h window over 15-min
    # buckets explodes each left row to 5 buckets
    assert out[15]["n_fanout_rows"] == 15
    assert (
        out[15]["n_fanout_rows"] > out[60]["n_fanout_rows"]
        > out[240]["n_fanout_rows"] >= out[1440]["n_fanout_rows"]
    )


def test_keyframe_selection_planted_clip(spark, tmp_path):
    """Frames [1,0],[2,0],[0,1],[0,3]: cut only at frame 2 (cosine 0),
    so segments {0,1} and {2,3}; keyframes are the max-norm frames
    (1 with norm 4e6, 3 with norm 9e6)."""
    from etl_generator_demo_spark.operators.surfaces_r12b import (
        x5_keyframe_selection,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [2.0, 0.0], 0),
        (2, [0.0, 1.0], 1),
        (3, [0.0, 3.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = [
        (r["segment_id"], r["n_frames"], r["keyframe_idx"], r["key_norm_e6"])
        for r in x5_keyframe_selection(spark, str(tmp_path)).collect()
    ]
    assert got == [(0, 2, 1, 4_000_000), (1, 2, 3, 9_000_000)]


def test_salt_factor_sweep_closed_form(spark, tmp_path):
    """8 events, users 0..7: the planted hot-key case sends all but
    user 4 to key 0 (7 rows) and keeps key 4 (1 row). Unsalted row is
    exact; salting must never increase the straggler bound and pays
    |keys| x s replication."""
    import datetime as dt

    from etl_generator_demo_spark.operators.surfaces_r12b import (
        j_salt_factor_sweep,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), i, "view", 1.0, "{}")
        for i in range(8)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r["salt_factor"]: r for r in j_salt_factor_sweep(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 4, 16, 64}
    assert (
        out[1]["n_shuffle_keys"],
        out[1]["max_key_rows"],
        out[1]["max_share_ppm"],
        out[1]["replication_rows"],
    ) == (2, 7, 875_000, 2)
    last = out[1]["max_key_rows"]
    for s in (4, 16, 64):
        assert out[s]["max_key_rows"] <= last
        last = out[s]["max_key_rows"]
        assert out[s]["replication_rows"] == 2 * s


@pytest.mark.slow
def test_kmeans_k_sweep_planted_elbow(spark, tmp_path):
    """8 distinct points: SSE is non-increasing in k, hits EXACTLY 0
    once k >= n (every point seeds its own cluster), and the non-empty
    count saturates at n."""
    from etl_generator_demo_spark.operators.surfaces_r12b import (
        x3_kmeans_k_sweep,
    )

    rows = [
        (0, [100.0, 0.0], 0),
        (1, [101.0, 1.0], 0),
        (2, [99.0, 2.0], 0),
        (3, [102.0, 0.5], 0),
        (4, [0.0, 100.0], 1),
        (5, [1.0, 101.0], 1),
        (6, [2.0, 99.0], 1),
        (7, [0.5, 102.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["k"]: r for r in x3_kmeans_k_sweep(spark, str(tmp_path)).collect()}
    assert set(out) == {2, 4, 8, 16}
    sses = [out[k]["sse_q_total"] for k in (2, 4, 8, 16)]
    assert sses == sorted(sses, reverse=True)
    assert out[8]["sse_q_total"] == 0 and out[16]["sse_q_total"] == 0
    assert out[8]["n_nonempty"] == 8 and out[16]["n_nonempty"] == 8
    assert out[2]["n_nonempty"] == 2


def test_epochs_repeat_audit_closed_form(spark, tmp_path):
    """One lang with supply 10 tokens: en weight 0.5 x budget 80000
    -> alloc 40000 -> epochs 4000x, flagged; effective epochs saturate
    at 1 + R* = 16 exactly (exp(-huge) -> 0)."""
    from etl_generator_demo_spark.operators.surfaces_r12b import (
        EPOCHS_R_STAR,
        x4_epochs_repeat_audit,
    )

    spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(10)), "en", "srcT", 40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = x4_epochs_repeat_audit(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["avail_tokens"], r["alloc_tokens"]) == (10, 40_000)
    assert r["epochs_e6"] == 4_000 * 1_000_000
    assert r["over_4_epochs"] is True
    # decay saturation: eff -> 1 + R*
    assert r["eff_epochs_e6"] == (1 + EPOCHS_R_STAR) * 1_000_000
    assert r["effective_tokens"] == 10 * (1 + EPOCHS_R_STAR)


def test_hard_negative_mining_planted_geometry(spark, tmp_path):
    """Query 0 (label 0): wrong-label vectors ranked by dot — [0.75,
    0.25] before [0.5, 0.5]; the same-label [0, 1] never appears.
    (Values chosen exactly float32-representable.)"""
    from etl_generator_demo_spark.operators.surfaces_r12b import (
        x3_hard_negative_mining,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.75, 0.25], 1),
        (2, [0.5, 0.5], 1),
        (3, [0.0, 1.0], 0),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = [
        (r["rnk"], r["neg_id"], r["neg_label"], r["score_e6"])
        for r in x3_hard_negative_mining(spark, str(tmp_path)).collect()
        if r["query_id"] == 0
    ]
    assert got == [(1, 1, 1, 750_000), (2, 2, 1, 500_000)]


@pytest.mark.slow
def test_span_corruption_matches_python_recompute(spark, tmp_path):
    """The md5 span gate recomputed in pure Python must reproduce the
    plan exactly: same starts, same merged-masked set, same run
    count."""
    import hashlib

    from etl_generator_demo_spark.operators.surfaces_r12b import (
        SPAN_LEN,
        SPAN_START_BOUND,
        x4_span_corruption_plan,
    )

    texts = [
        " ".join(f"t{j}" for j in range(60)),
        " ".join(f"u{j}" for j in range(25)),
    ]
    _write_documents(spark, str(tmp_path), len(texts))
    spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {r["doc_id"]: r for r in x4_span_corruption_plan(spark, str(tmp_path)).collect()}
    for did, text in enumerate(texts):
        n = len(text.split(" "))
        masked = set()
        for p in range(n):
            h = hashlib.md5(f"span|{did}|{p}".encode()).hexdigest()
            if int(h[:2], 16) < SPAN_START_BOUND:
                masked.update(q for q in range(p, p + SPAN_LEN) if q < n)
        spans = sum(1 for q in masked if q - 1 not in masked)
        r = got[did]
        assert (r["n_tokens"], r["n_spans"], r["n_masked"]) == (n, spans, len(masked))
        assert r["corruption_e6"] == len(masked) * 1_000_000 // n


def test_dp_epsilon_sweep_closed_form(spark, tmp_path):
    """One day, one user with 2 rows among 100 total rows from many
    users -> Δf=2, true_count=100. ε=10: b=0.2, rel err 0.2% (usable);
    ε=0.1: b=20, rel err 20% (not). Exact e6 arithmetic recomputed."""
    import datetime as dt

    from etl_generator_demo_spark.operators.surfaces_r12b import (
        x4_dp_epsilon_utility_sweep,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(minutes=i), i, "view", 1.0, "{}") for i in range(98)]
    rows += [(98, t0 + dt.timedelta(minutes=98), 0, "view", 1.0, "{}"),
             (99, t0 + dt.timedelta(minutes=99), 0, "view", 1.0, "{}")]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r["epsilon_e3"]: r for r in x4_dp_epsilon_utility_sweep(spark, str(tmp_path)).collect()}
    # user 0 has 3 rows (events 0, 98, 99) -> sens=3, count=100
    sens, cnt = 3, 100
    for eps in (100, 1_000, 10_000):
        b_e6 = sens * 1_000_000_000 // eps
        rel = b_e6 * 1_000_000 // (cnt * 1_000_000)
        r = out[eps]
        assert r["n_days"] == 1
        assert r["mean_noise_scale_e6"] == b_e6
        assert r["worst_rel_err_e6"] == rel
        assert r["n_usable_days"] == (1 if rel < 50_000 else 0)
    assert out[100]["n_usable_days"] == 0 and out[10_000]["n_usable_days"] == 1


@pytest.mark.slow
def test_media_attrition_planted_funnel(spark, tmp_path):
    """10 docs -> +2 re-encodes (ids 0,5) +2 mirrors (ids 0,7): total
    14; mirrors die at exact dedup (12); re-encodes die at the pHash
    tier (10); with all-positive embeddings every scored image keeps
    (text-tower weights and image components both positive), so the
    CLIP gate drops nothing (10)."""
    from etl_generator_demo_spark.operators.surfaces_r12b import (
        x5_media_curation_attrition,
    )

    _write_documents(spark, str(tmp_path), 10)
    spark.createDataFrame(
        [(i, [0.5, 0.25], 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = [
        (r["stage_no"], r["n_items"])
        for r in x5_media_curation_attrition(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 14), (2, 12), (3, 10), (4, 10)]


def test_postfilter_sweep_planted_selectivity(spark, tmp_path):
    """8 vectors, 2 labels interleaved by similarity to the anchors:
    recall must be non-decreasing in the multiplier, candidates kept
    never exceed k*m, and every kept candidate passes the filter
    (recall10_sum <= n_candidates_kept <= true filtered top-k)."""
    from etl_generator_demo_spark.operators.ann_index import (
        x3_filtered_topk_postfilter_sweep,
    )

    rows = [(i, [1.0 - i * 0.1, i * 0.1], i % 2) for i in range(8)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["multiplier"]: r for r in x3_filtered_topk_postfilter_sweep(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 4}
    last = -1
    for m in (1, 2, 4):
        r = out[m]
        assert r["recall10_sum"] >= last
        last = r["recall10_sum"]
        assert r["recall10_sum"] <= r["n_candidates_kept"]


def test_dedup_shift_zero_on_dupfree_corpus(spark, tmp_path):
    """A corpus with no cross-doc duplicated K-grams removes nothing:
    post == pre, KL exactly 0, token/type counts equal."""
    from etl_generator_demo_spark.operators.surfaces_r12b import (
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
