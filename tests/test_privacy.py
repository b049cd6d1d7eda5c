"""The privacy family (``operators/privacy.py``): planted leaks the
audits must flag, exact-rational closed forms, and the degenerate-input
sweep of the moved corpus, privacy and media queries."""

from __future__ import annotations

import pytest


def test_l_diversity_flags_planted_homogeneous_class(spark, tmp_path):
    """Planted leak: a QI class where every member shares the
    sensitive value must be flagged 'homogeneous' even though it is
    k-anonymous by size; a balanced class must not be flagged."""
    from datetime import datetime

    from etl_generator_demo_spark.operators.privacy import (
        x4_l_diversity_audit,
    )

    rows = (
        # class (2024-01-01, bucket 0): 10 members, ALL 'error' -> leak
        [(i, datetime(2024, 1, 1), 100 + i, "error", 5.0, "{}")
         for i in range(10)]
        # class (2024-01-02, bucket 0): 9 members, 3 types -> clean
        + [(100 + i, datetime(2024, 1, 2), 200 + i,
            ["click", "view", "purchase"][i % 3], 5.0, "{}")
           for i in range(9)]
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = x4_l_diversity_audit(spark, str(tmp_path)).collect()
    flagged = {(str(r["day"]), r["risk"]) for r in out}
    assert ("2024-01-01", "homogeneous") in flagged
    assert all(str(r["day"]) != "2024-01-02" for r in out)
    leak = next(r for r in out if str(r["day"]) == "2024-01-01")
    assert leak["p_max_e6"] == 1_000_000 and leak["n_sensitive"] == 1


def test_t_closeness_exact_rational(spark, tmp_path):
    """Two classes, global x:6 y:2 -> both classes sit at TV=0.25
    exactly (tv_e6 = 250000, breach at the 0.2 gate)."""
    import datetime as dt

    from etl_generator_demo_spark.operators.privacy import (
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


def test_dp_epsilon_sweep_closed_form(spark, tmp_path):
    """One day, one user with 2 rows among 100 total rows from many
    users -> Δf=2, true_count=100. ε=10: b=0.2, rel err 0.2% (usable);
    ε=0.1: b=20, rel err 20% (not). Exact e6 arithmetic recomputed."""
    import datetime as dt

    from etl_generator_demo_spark.operators.privacy import (
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


# ---------------------------------------------------------------------------
# Degenerate inputs: the corpus-curation, privacy and media family
# ---------------------------------------------------------------------------

#: Each query of the family under the source table the sweep cuts.
_SOURCES = {
    "customer": ["d_gdpr_erasure_audit"],
    "documents": [
        "x2_cdc_chunk_dedup",
        "x2_dedup_distribution_shift",
        "x2_rematerialize_boundary_audit",
        "x2_removal_rematerialize",
        "x4_bigram_lm_quality",
        "x4_bpe_encode_corpus",
        "x4_curriculum_shards",
        "x4_doc_perplexity_filter",
        "x4_doremi_weight_step",
        "x4_dsir_budget_sweep",
        "x4_dsir_importance_topk",
        "x4_epochs_repeat_audit",
        "x4_gopher_quality_rules",
        "x4_k_anonymity_ladder",
        "x4_lm_interpolation_sweep",
        "x4_packing_context_sweep",
        "x4_quality_threshold_sweep",
        "x4_query_likelihood_topk",
        "x4_span_corruption_plan",
        "x4_stratified_proportional_sample",
        "x5_media_curation_attrition",
        "x5_phash_hamming_neardup",
    ],
    "embeddings": [
        "x5_keyframe_selection",
        "x5_media_curation_attrition",
        "x5_scene_cut_detection",
    ],
    "events": [
        "d_cdc_apply_snapshot",
        "j_range_bin_width_sweep",
        "j_salt_factor_sweep",
        "st_session_gap_sweep",
        "x4_dp_epsilon_utility_sweep",
        "x4_dp_sensitivity_audit",
        "x4_l_diversity_audit",
        "x4_t_closeness_audit",
    ],
    "lineitem": ["d_analyze_table_stats", "x4_item_item_recs"],
    "orders": ["d_zorder_clustering_keys"],
}
_KEY = {"customer": "c_custkey", "documents": "doc_id", "embeddings": "vec_id",
        "events": "event_id", "lineitem": "l_orderkey", "orders": "o_orderkey"}


def test_degenerate_sweep_covers_the_family():
    from etl_generator_demo_spark.registry import load_all

    family = {
        n for n, rq in load_all().items()
        if rq.fn.__module__.endswith((".ngram_lm", ".privacy"))
    }
    swept = {n for names in _SOURCES.values() for n in names}
    assert family <= swept
    assert len(swept) == 36


@pytest.mark.parametrize("rows", [0, 1])
@pytest.mark.parametrize("table", sorted(_SOURCES))
def test_degenerate_input_matches_oracle(
    spark, sf_dir, replace_table, oracle_mismatches, table, rows
):
    from etl_generator_demo_spark.operators.relational import t

    frame = t(spark, sf_dir, table).orderBy(_KEY[table]).limit(rows)
    bad = oracle_mismatches(replace_table(table, frame), _SOURCES[table])
    assert not bad, bad
