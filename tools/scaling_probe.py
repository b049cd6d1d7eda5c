"""Scaling probe: measure headline-query wall clock across ~100x of
data (sf0.01 -> sf0.1 -> synthetic 10x-sf0.1) to verify the plans
scale linearly instead of quadratically.

The synthetic tier unions the sf0.1 tables 10x with key offsets —
preserving join fan-outs and group cardinalities — written once to a
scratch dir. Near-linear wall-clock growth (at fixed parallelism)
means no hidden O(n^2); the same plans on 1000 executors divide the
work by the executor count.

Usage: python tools/scaling_probe.py [--scratch DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, ROOT)

QUERIES = [
    "q1_pricing_summary",
    "q2_revenue_by_segment",
    "q6_forecast_revenue",
    "x2_minhash_lsh_pairs",
    "x2_dedup_clusters",
    "j8_asof_purchase_last_click",
    "st_session_windows",
    # round-4 additions: substring-dup coverage + bigram LM (linear
    # scans + vocab-bounded intermediates), probe-only ANN (index
    # probe must stay ~flat as the corpus scales). j_hierarchy_depth
    # is excluded: the synth tier's key offsets break the derived
    # parent = id DIV 10 tree (dangling parents), so its timing there
    # would measure a mostly-empty walk.
    "x2_shingle_dup_coverage",
    "x4_bigram_lm_quality",
    "x3_ann_lsh_probe",
    # round-4 additions: BM25 (linear keyed shuffles), k-means +
    # SemDeDup (per-round broadcast+groupBy; within-cluster Gram
    # stage — watch it stay ~linear as clusters grow with the corpus)
    "x4_bm25_topk",
    "x3_kmeans_clusters",
    "x3_semdedup_keep",
    # round-4 late additions: PQ encode (scan-side, zero shuffle —
    # must stay ~linear), IVF-PQ ADC (probe prunes to 2/8 lists; the
    # LUT scoring reads codes, so growth tracks list cardinality),
    # sweep-line concurrency. x2_token_overlap_join is excluded: on
    # the synthetic tier the fixture's homogeneous vocabulary makes
    # ~N² of all pairs genuinely exceed the 0.9 threshold, so the
    # output itself (not the pruning) is quadratic — the probe would
    # measure the data shape, not the operator.
    "x3_pq_codes",
    "x3_ivfpq_adc_topk",
    "x4_concurrent_sessions",
    # session additions: fact-join TPC-H shapes (dims broadcast, one
    # fact shuffle), the d^2-bounded covariance Gram, the user-keyed
    # attribution range join, and signature mining (watch the
    # session->signature reduction stay linear)
    "q8_market_share",
    "q13_customer_distribution",
    "x3_dim_covariance",
    "x4_multitouch_attribution",
    "x4_journey_signatures",
    # round-5 de-globalizations: the distributed exact-rank/prefix-scan
    # primitives (global_row_number / global_running) must grow
    # ~linearly where the old single-partition windows grew with a
    # 1-task sort; the with-ties cutoff must stay ~flat (pushed filter).
    # x4_contrastive_triplets and x3_neardup_lsh_bucketed are excluded
    # for the same reason as x2_token_overlap_join: the synth tier's
    # replicas are near-identical documents/bit-identical embeddings,
    # so |candidate pairs| genuinely inflates ~45-100x — the probe
    # would measure the output relation the data shape demands, not
    # the operator (their per-pair work is linear and bounded; see
    # bench.py for their steady-state latency on real-shaped data)
    "x4_rfm_scores",
    "w_ntile_price_quartiles",
    "x4_key_skew_audit",
    "st_lateness_histogram",
    "o_top_recent_with_ties",
    # round-7 additions: the rank-statistics suite (two global_row_number
    # passes for Spearman; per-group rebased global rank for Gini; the
    # rank+prefix-scan pair for coverage-at-k) must stay ~linear like
    # the other de-globalized primitives; burstiness is one keyed lag
    # window + a moment aggregate; the Q21 analogue is the EXISTS pair
    # rewritten as one per-order aggregate (watch the orders⋈lineitem
    # shuffle stay linear); local clustering coefficient inherits the
    # O(m^1.5) oriented wedge bound — on the synth tier the part
    # catalog is shared across replicas so the co-purchase graph
    # DENSIFIES (edge count saturates at C(|parts|,2)): its growth
    # measures the data shape's densification, worth watching but not
    # a plan regression signal like the linear rows above.
    "x4_spearman_rank_corr",
    "x4_gini_doclen_by_lang",
    "x4_burstiness_per_user",
    "x4_ngram_coverage_topk",
    "q21_suppliers_kept_waiting",
    "g_clustering_coefficient",
    # round-9 additions. The pair-free substring-dedup coverage is the
    # linear tier (groupBy(h) + join back + per-doc window);
    # x2_exact_substr_spans is EXCLUDED for the contrastive-triplets
    # reason — synth replicas are identical texts, so the pair
    # relation itself genuinely inflates ~x100. BPE operates on the
    # vocabulary (shared across replicas: expect ~flat past the word
    # count). RRF/bootstrap/PCA are probe-, grid-, and Gram-bounded
    # (expect ~flat / ~linear-scan). WCC inherits the co-purchase
    # densification caveat (parts shared across replicas), same as
    # g_clustering_coefficient.
    "x2_duplicated_token_fraction",
    "x4_bpe_merge_steps",
    "x4_rrf_hybrid_topk",
    "x4_poisson_bootstrap_ci",
    "x3_pca_power_iteration",
    "g_wcc_components",
    # round-10 additions. Linear-scan tier: gopher rules, zorder
    # arithmetic, vector-norm fold, ANALYZE unpivot, curriculum
    # global-rank, stratified selection window, BPE encode (vocab
    # join). Model/lattice-bounded (expect ~flat): Holt (calendar
    # lattice), NDCG (query-term-bounded), IVF sweep (k-row probe
    # math + broadcast restrictions). Graph tier (HITS/SSSP/PPR/
    # item-item) inherits the co-purchase densification caveat —
    # parts are shared across synth replicas, so edge/pair relations
    # saturate toward C(|parts|,2); growth there measures the data
    # shape, not the plan. x2_lsh_band_tuning_curve is EXCLUDED for
    # the contrastive-triplets reason: synth replica texts differ
    # only in a prefix token, so most minhash signatures collide
    # across replicas and the candidate-pair relation itself inflates
    # ~quadratically — the probe would measure output size the data
    # shape demands, not the operator.
    "x4_gopher_quality_rules",
    "x4_stratified_proportional_sample",
    "x4_curriculum_shards",
    "d_zorder_clustering_keys",
    "x3_vector_norm_audit",
    "d_analyze_table_stats",
    "x4_bpe_encode_corpus",
    "x4_holt_linear_forecast",
    "x4_ndcg_eval",
    "x3_ivf_nprobe_recall_sweep",
    "w_range_interval_verbatim",
    "u_values_inline_table",
    "x4_item_item_recs",
    "g_hits_bipartite",
    "g_sssp_weighted",
    "g_personalized_pagerank",
    # round-11 backfill of the four r10 registrations the r10 probe
    # missed (f_time_bucket was registered after the run; the sweeps
    # were never queued — exactly the ops whose cost multiplies: one
    # pair relation read 4x, per-n shingle sets, per-tau keep scans).
    "f_time_bucket_15min",
    "x2_jaccard_threshold_sweep",
    "x4_decontam_ngram_sweep",
    "x4_quality_threshold_sweep",
    # round-11 registrations: CDC apply is one keyed shuffle + join
    # (expect ~linear); the sketch is two bounded rollups whose merge
    # stage is |buckets|-sized (expect ~flat past the scan).
    "d_cdc_apply_snapshot",
    "a_hdr_quantile_sketch",
    # unigram-LM trainer + encoder: operate on the word-TYPE relation
    # after one corpus pass (expect ~flat past the word count — the
    # BPE-trainer boundedness argument).
    "x4_unigram_lm_vocab",
    "x4_unigram_encode_corpus",
    # resolution sweep: one scan exploded x3 + bucket-bounded CDFs +
    # the value-type exact prefix scan (expect ~linear in the scan).
    "a_sketch_resolution_sweep",
    # streaming CDC batch twin: one keyed arg-max over the event scan
    # (expect ~linear).
    "st_cdc_running_snapshot",
    # kappa inherits the confusion build (trigram explode x |langs|,
    # expect ~linear); packing sweep is one sized scan exploded x4.
    "x4_labeler_agreement_kappa",
    "x4_packing_context_sweep",
    # state-capacity audit: two keyed rollups over the event scan
    # (expect ~linear; the running window is calendar-bounded).
    "st_state_capacity_by_day",
    # DoReMi step: bigram count joins (vocab-bounded intermediates,
    # expect ~linear in the token scan).
    "x4_doremi_weight_step",
    # IVF staleness: two Lloyd trainings + two assignment scans
    # (expect ~linear; model collects are k*dim).
    "x3_ivf_staleness_audit",
    # unigram vocab sweep: word-type-bounded like the trainer
    # (expect ~flat past the word count).
    "x4_unigram_vocab_sweep",
    # bloom FPR sweep: key-type relations hashed once, width prefixes
    # derived (expect ~linear in distinct keys).
    "j_bloom_fpr_sweep",
    # QL-Dirichlet: doc-length relation x 3-term broadcast (expect
    # ~linear in the token scan).
    "x4_query_likelihood_topk",
    # l-diversity: class-bounded rollups over the event scan (expect
    # ~linear).
    "x4_l_diversity_audit",
    # round-12 registrations. Rematerialize pair: on the synth tier
    # every k-gram is shared across the ~10 near-identical replicas,
    # so the removal relation approaches ALL non-owner positions —
    # still linear in corpus tokens (groupBy h + join-back + anti
    # join), which is exactly what the probe should verify. The
    # rebuild query's OUTPUT is the corpus itself -> NOOP_SINK.
    "x2_removal_rematerialize",
    "x2_rematerialize_boundary_audit",
    # DSIR: vocab-bounded LM rollups + one b-keyed join (expect
    # ~linear in the token scan).
    "x4_dsir_importance_topk",
    # corpus-law fits: top-100 / per-doc-lattice bounded fit relations
    # (expect ~flat past the scan / ~linear).
    "x4_zipf_alpha_fit",
    "x4_heaps_law_fit",
    # t-closeness: class-bounded rollups (expect ~linear).
    "x4_t_closeness_audit",
    # Matryoshka: NQ x |dims| brute-force scans (expect ~linear with a
    # 16x constant).
    "x3_matryoshka_prefix_recall",
    # drop ledger: global row_number + batch-lattice joins (expect
    # ~linear; output is 1/500 of the stream).
    "st_watermark_drop_ledger",
    # AV alignment / CLIP gate: scan-side arithmetic + keyed joins
    # (expect ~linear).
    "x5_av_segment_alignment",
    "x5_crossmodal_clip_gate",
    # r12 batch 2: CDC chunk dedup is windows + rollups (expect
    # ~linear; synth replicas share chunks — the h rollup carries 10x
    # occurrence lists, still keyed). Perplexity filter: vocab-bounded
    # LM + bigram-keyed join (expect ~linear). DSIR budget sweep does
    # the same corpus work as one topk (expect ~topk-equal). Session
    # gap sweep: one compound-key shuffle x4 gaps (expect ~linear).
    "x2_cdc_chunk_dedup",
    "x4_doc_perplexity_filter",
    "x4_dsir_budget_sweep",
    "st_session_gap_sweep",
    # r12 batch 3: delay sweep shares the ledger's replay (expect
    # ~linear); modality audit is a |modalities|-bounded rollup
    # (expect ~flat past the scan).
    "st_watermark_delay_sweep",
    "x5_modality_balance_audit",
    # r12 batch 4: ranker agreement = two bounded-score rankings over
    # the hit relation (expect ~linear); entropy = two source-keyed
    # rollups (expect ~linear); LM interpolation = one checkpointed
    # held-out join read 4x (expect ~linear, the multiplied-read
    # sweep shape).
    "x4_ranker_agreement",
    "x4_entropy_per_source",
    "x4_lm_interpolation_sweep",
    # r12 batch 5: DP sensitivity audit = two keyed rollups (expect
    # ~linear).
    "x4_dp_sensitivity_audit",
    # r12 bench-rotation backfill: a HEADLINE query may retire only if
    # probe-tracked, and these two never were — queued now. Incremental
    # dedup streams the corpus side against a broadcast batch (expect
    # ~linear in the persisted index scan); q4 is one fact shuffle
    # against broadcast dims (expect ~linear).
    "x2_dedup_incremental",
    "q4_local_supplier_volume",
    # r12 batch 6: phash near-dup = banded self-join + candidate-only
    # verify (expect ~linear in corpus + planted pairs); scene cuts =
    # one keyed self-join + clip rollup (expect ~linear).
    "x5_phash_hamming_neardup",
    "x5_scene_cut_detection",
    # r12 batch 7: SQ sweep = one corpus scan x 3 widths + bounded
    # rank windows (expect ~linear); bin-width sweep = keyed
    # self-join, per-user density bounded (expect ~linear in pairs).
    "x3_sq_bits_sweep",
    "j_range_bin_width_sweep",
    # r12 batch 8: state ledger = day rollups + lattice scans + two
    # |batches|-bounded theta joins (expect ~linear in events);
    # fuzzy decontam = band broadcast join + candidate-only verify
    # (expect ~linear in corpus + candidates).
    "st_join_state_ledger",
    "x4_fuzzy_decontam",
    # r12 batch 9: keyframes = bounded per-clip windows + rollup
    # (expect ~linear); salt sweep = one scan x 4 factors + keyed
    # rollups (expect ~linear).
    "x5_keyframe_selection",
    "j_salt_factor_sweep",
    # r12 batch 10: 4 independent linear trainings, models driver-side
    # (expect ~linear).
    "x3_kmeans_k_sweep",
    # r12 batch 11: one |langs|-bounded rollup (expect ~flat past the
    # scan).
    "x4_epochs_repeat_audit",
    # r12 batch 12: anchors x one corpus scan (expect ~linear);
    # span plan = token explode + bounded span fan-out (expect
    # ~linear).
    "x3_hard_negative_mining",
    "x4_span_corruption_plan",
    # r12 batch 13: |days|-lattice x 3 budgets (expect ~flat past the
    # scan).
    "x4_dp_epsilon_utility_sweep",
    # r12 batch 14: composed funnel of three linear tiers (expect
    # ~linear).
    "x5_media_curation_attrition",
    # r12 batch 15: four lattice-sized ledger evaluations each
    # (expect ~linear in events).
    "st_join_state_delay_sweep",
    "st_batch_size_drop_sweep",
    # r12 batch 16: one bounded ranking + prefix arms (expect
    # ~linear); KL = rematerialize chain + type rollups (expect
    # ~linear, the rematerialize shape).
    "x3_filtered_topk_postfilter_sweep",
    "x2_dedup_distribution_shift",
    # r13: pre-filter IVF probe — index-pruned scan + bounded rank
    # (expect ~flat past the pruned-list read).
    "x3_filtered_topk_prefilter",
    # r13 dedup keep-policies: one content-hash rollup (+ join back /
    # + partitioned windows) — expect ~linear.
    "x2_softdedup_weights",
    "x1_dedup_keep_best",
    # r13: three pruned index probes + bounded ranks per arm — expect
    # ~flat past the pruned-list read (the exact tier is the bounded
    # ground truth over the qualifying slice).
    "x3_prefilter_selectivity_sweep",
    # r14 (VERDICT r13 item 3): the decontam family probed HONESTLY —
    # the fixture eval split (vec_id % 20 == 7) scales WITH the corpus,
    # so these three slopes are expected SUPERLINEAR BY DATA SHAPE
    # (|corpus| x |eval| grows ~quadratically across tiers; real eval
    # suites are fixed-size). They are probed anyway because the
    # verdict asked for measured slopes, with the fixed-eval variant
    # below as the plan-scaling signal (expect ~linear) — read the two
    # side by side.
    "x3_semantic_decontam",
    "x3_semantic_decontam_indexed",
    "x4_decontam_funnel",
    "x4_decontam_tier_overlap",
    "x3_semantic_decontam_fixed_eval",
    # r14: single-query radius search over the ball-bounded index —
    # expect ~linear in the qualified-list read (uniform fixture
    # vectors qualify every list; clustered corpora prune).
    "x3_radius_search",
    # r14: the optimistic-commit table format end-to-end — five
    # full-table commit writes + five snapshot scans per call, all
    # construction-time by design (the commit protocol IS the
    # operator); expect ~linear in the orders relation.
    "d_txlog_time_travel",
    # r14: exact two-phase ball-bound top-k — expect ~linear in the
    # scanned lists (uniform fixtures qualify every list; the
    # clustered-corpus pruning is pinned in pytest).
    "x3_exact_topk_indexed",
    # r15: exactly-once streaming commits into the txlog — 8 batch
    # writes (4 replays absorbed by the txn high-water map) + one
    # grouped read-back, all construction-time by design; expect
    # ~linear in the orders relation.
    "st_txlog_exactly_once",
    # r15: zone-map file skipping — create + clustered rewrite + one
    # stats-pruned range read, construction-time by design; expect
    # ~linear in the orders relation (the pruned read itself is the
    # flat part).
    "d_txlog_file_skipping",
    # r15: metadata-only schema evolution — the ALTER commit is
    # O(1) by design; total cost is the create/append/update writes +
    # four snapshot rollups; expect ~linear in the orders relation.
    "d_txlog_schema_evolution",
    # r15: incremental reads tail the log's add-lists — each batch is
    # O(its own files); total cost is the four append writes + four
    # increment rollups; expect ~linear in the orders relation.
    "st_txlog_incremental_read",
    # r16: ball-bound pruning on the derived clustered corpus — the
    # pruned-scan query itself should stay near-flat (lists read is
    # geometry-dependent, not N-dependent); total cost is dominated
    # by the first-touch index build (k-means + partitioned write,
    # ~linear), re-paid per tier because each tier is its own corpus
    # fingerprint.
    "x3_radius_search_clustered",
]

#: Probe-completeness contract, pinned by tests/test_registry.py:
#: every query registered in a round must either be in QUERIES or
#: carry an entry here naming WHY its synth-tier probe would measure
#: the data shape instead of the plan (the contrastive-triplets
#: precedent: when the synthetic tier's near-identical replicas make
#: the OUTPUT relation itself inflate quadratically, the timing
#: measures output size the data demands, not a plan regression).
PROBE_EXCLUDED = {
    "x2_exact_substr_spans": (
        "synth replica texts are near-identical, so the cross-doc span"
        " PAIR relation itself inflates ~x100 (r9 comment in QUERIES,"
        " formalized here when the query retired from the bench"
        " primary): the probe would measure output size the data shape"
        " demands, not the diagonal-run plan"
    ),
    "x2_minhash_k_sweep": (
        "synth replica texts collide in minhash signatures, so the LSH"
        " candidate-pair relation the error sweep aggregates over"
        " inflates ~quadratically — the probe would measure output"
        " size the data shape demands, not the estimator"
    ),
    "x2_lsh_band_tuning_curve": (
        "synth replica texts differ only in a prefix token, so minhash"
        " signatures collide across replicas and the candidate-pair"
        " relation inflates ~quadratically at every banding — the probe"
        " would measure output size, not the operator"
    ),
    "x3_semantic_decontam_recall": (
        "times the brute tier + the indexed tier + their intersection"
        " in one row: both components are probed individually (r14),"
        " and the brute side's |corpus| x |eval| product inflates"
        " quadratically by the corpus-scaled eval split — the row"
        " would measure that data shape twice, not a distinct plan"
    ),
}

#: Queries whose result cardinality is Θ(input rows): timing them via
#: ``collect()`` measures single-threaded driver materialization (rows
#: → Python objects, ~5 µs/row) — the one step a 1000-executor cluster
#: never does (the sink is a distributed write). These are timed with
#: the distributed noop sink instead, so the probe row measures the
#: PLAN (scan → shuffle → agg → sort), which is what the probe's
#: linearity claim is about. Measured for st_session_windows at r12
#: (SCALE.md "session-window slope"): collect-full 0.86/1.30/6.05 s vs
#: noop-full 0.56/0.67/0.96 s over 1x/10x/100x — the r11 6.3x "slope"
#: was 5.09 s of driver row materialization for 954,650 session rows
#: on top of a ~flat 0.96 s distributed plan.
NOOP_SINK = {
    "st_session_windows": (
        "one output row per session (sessions/events ~ 0.95 on the"
        " fixture): collect() is linear driver materialization, not"
        " the plan"
    ),
    "x2_removal_rematerialize": (
        "the output IS the rebuilt corpus (one text row per document):"
        " collect() measures driver string materialization, not the"
        " removal plan"
    ),
    "x2_softdedup_weights": (
        "one weight row per document (the output annotates the corpus):"
        " collect() is linear driver materialization, not the plan"
    ),
    "x1_dedup_keep_best": (
        "one keeper row per normalized-content group (~corpus-sized on"
        " the near-dup-light fixture): collect() is driver"
        " materialization, not the plan"
    ),
}

#: Names QUEUED (not newly registered) in a later round than their
#: registration — e.g. bench-rotation backfills. PROBE files frozen
#: before the queueing round are exempt from carrying their rows.
QUEUE_BACKFILLS: dict[int, list[str]] = {
    12: ["x2_dedup_incremental", "q4_local_supplier_volume"],
    # r14: the decontam family moves from PROBE_EXCLUDED into the
    # queue (VERDICT r13 item 3 wants the measured slopes, data-shape
    # caveat documented at the QUERIES entry) — PROBE_r13 and earlier
    # are exempt from carrying their rows.
    14: [
        "x3_semantic_decontam",
        "x4_decontam_funnel",
        "x4_decontam_tier_overlap",
    ],
}

#: Names registered per round, for the completeness pin (git history
#: is not importable from tests; maintained by hand like the doc
#: counts). Grow the newest round's list with every registration.
ROUND_REGISTRATIONS: dict[int, list[str]] = {
    11: [
        "d_cdc_apply_snapshot",
        "a_hdr_quantile_sketch",
        "x4_unigram_lm_vocab",
        "x4_unigram_encode_corpus",
        "a_sketch_resolution_sweep",
        "st_cdc_running_snapshot",
        "x4_labeler_agreement_kappa",
        "x4_packing_context_sweep",
        "st_state_capacity_by_day",
        "x4_doremi_weight_step",
        "x3_ivf_staleness_audit",
        "x4_unigram_vocab_sweep",
        "j_bloom_fpr_sweep",
        "x2_minhash_k_sweep",
        "x4_query_likelihood_topk",
        "x4_l_diversity_audit",
    ],
    12: [
        "x5_phash_hamming_neardup",
        "x5_scene_cut_detection",
        "x3_sq_bits_sweep",
        "j_range_bin_width_sweep",
        "st_join_state_ledger",
        "x4_fuzzy_decontam",
        "x5_keyframe_selection",
        "j_salt_factor_sweep",
        "x3_kmeans_k_sweep",
        "x4_epochs_repeat_audit",
        "x3_hard_negative_mining",
        "x4_span_corruption_plan",
        "x4_dp_epsilon_utility_sweep",
        "x5_media_curation_attrition",
        "st_join_state_delay_sweep",
        "st_batch_size_drop_sweep",
        "x3_filtered_topk_postfilter_sweep",
        "x2_dedup_distribution_shift",
        "x4_dp_sensitivity_audit",
        "x4_ranker_agreement",
        "x4_entropy_per_source",
        "x4_lm_interpolation_sweep",
        "st_watermark_delay_sweep",
        "x5_modality_balance_audit",
        "x2_cdc_chunk_dedup",
        "x4_doc_perplexity_filter",
        "x4_dsir_budget_sweep",
        "st_session_gap_sweep",
        "x2_removal_rematerialize",
        "x2_rematerialize_boundary_audit",
        "x4_dsir_importance_topk",
        "x4_zipf_alpha_fit",
        "x4_heaps_law_fit",
        "x4_t_closeness_audit",
        "x3_matryoshka_prefix_recall",
        "st_watermark_drop_ledger",
        "x5_av_segment_alignment",
        "x5_crossmodal_clip_gate",
    ],
    13: [
        "x3_filtered_topk_prefilter",
        "x3_semantic_decontam",
        "x4_decontam_funnel",
        "x4_decontam_tier_overlap",
        "x2_softdedup_weights",
        "x1_dedup_keep_best",
        "x3_prefilter_selectivity_sweep",
    ],
    14: [
        "x3_semantic_decontam_indexed",
        "x3_semantic_decontam_recall",
        "x3_radius_search",
        "x3_semantic_decontam_fixed_eval",
        "d_txlog_time_travel",
        "x3_exact_topk_indexed",
    ],
    15: [
        "st_txlog_exactly_once",
        "d_txlog_file_skipping",
        "d_txlog_schema_evolution",
        "st_txlog_incremental_read",
    ],
    16: [
        "x3_radius_search_clustered",
    ],
}

KEY_COLS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "supplier": [],
    "part": ["p_partkey"],
    "nation": [],
    "region": [],
}


def synthesize_10x(spark, src_dir: str, dst_dir: str) -> None:
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.catalog import TABLES, read_table

    os.makedirs(dst_dir, exist_ok=True)
    for name in TABLES:
        out_path = f"{dst_dir}/{name}.parquet"
        # a bare exists() would accept a half-written table from an
        # interrupted run; Spark's _SUCCESS marker is the commit record
        if os.path.exists(f"{out_path}/_SUCCESS"):
            continue
        df = read_table(spark, src_dir, name)
        keys = KEY_COLS[name]
        if not keys:  # pure dims: keep as-is (dims don't scale with facts)
            df.write.mode("overwrite").parquet(out_path)
            continue
        # offset keys per replica so PK/FK relationships replicate
        # disjointly: replica k shifts every key column by k * 10^12
        copies = []
        for k in range(10):
            c = df
            for col in keys:
                c = c.withColumn(col, F.col(col) + F.lit(k * 10**12).cast("long"))
            if name == "documents":
                # perturb text so dedup stays non-degenerate across replicas
                c = c.withColumn(
                    "text",
                    F.concat_ws(" ", F.lit(f"rep{k}"), F.col("text")),
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(out_path)


def clustered_ball_bound_arm(spark, scratch: str) -> list[dict]:
    """Pruned-vs-brute measurement for the ball-bound cosine index on
    a CLUSTERED synthetic corpus (round 15; VERDICT r14 item 3).

    The fixture embeddings are uniform-random, so list radii sit ~1.0
    and the ball bound never prunes in any driver artifact — the
    pruning win existed only in the clustered-synth pytest. This arm
    synthesizes what real embedding corpora look like (16 direction
    clusters, sigma=0.05 in normalized space) at 1x/10x/100x of the
    sf0.1 vector count and records, per tier: lists read vs total,
    pruned wall, brute wall, and the hit counts of both paths (which
    must MATCH — the bound is exact, pruning is free).

    Index build (k-means fit + partitioned write) runs before timing:
    it is a once-per-corpus cost amortized over every query, the same
    accounting the sibling ANN probes use."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.ann_index import (
        COS_IVF_LISTS,
        cosine_threshold_join,
        ensure_cosine_ivf_index,
        qualify_lists_driver_side,
    )
    from etl_generator_demo_spark.operators.similarity import (
        _as_double,
        _dot,
        _norm,
    )

    rng = np.random.default_rng(451)
    dim, k_clusters, sigma = 64, 16, 0.05
    centers = rng.standard_normal((k_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def synth(n: int, seed_off: int) -> np.ndarray:
        r = np.random.default_rng(451 + seed_off)
        ks = r.integers(0, k_clusters, n)
        pts = centers[ks] + sigma * r.standard_normal((n, dim))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        mags = r.uniform(0.5, 2.0, (n, 1))
        return pts * mags

    # 20 queries near 5 of the clusters (fresh noise draws)
    qr = np.random.default_rng(777)
    q_ks = np.repeat(np.arange(5), 4)
    qvs = centers[q_ks] + sigma * qr.standard_normal((20, dim))
    queries = [(int(i), [float(x) for x in qvs[i]]) for i in range(20)]
    tau_e6 = 800_000

    out = []
    for tier, n in (("1x", 2_000), ("10x", 20_000), ("100x", 200_000)):
        tier_dir = os.path.join(scratch, f"clustered_{tier}")
        emb_path = os.path.join(tier_dir, "embeddings.parquet")
        if not os.path.exists(os.path.join(emb_path, "_SUCCESS")):
            os.makedirs(tier_dir, exist_ok=True)
            vecs = synth(n, seed_off=n)
            rows = [
                (i, [float(x) for x in vecs[i]], int(i % 7)) for i in range(n)
            ]
            spark.createDataFrame(
                rows, "vec_id long, embedding array<float>, label int"
            ).repartition(max(1, n // 25_000)).write.mode("overwrite").parquet(
                emb_path
            )
        # build outside the timed region; the lists-read count comes
        # from the OPERATOR'S OWN qualification helper, so the probe
        # reports exactly what the pruned scan will read
        _path, centroids, radii = ensure_cosine_ivf_index(spark, tier_dir)
        _rows, lists_read = qualify_lists_driver_side(
            centroids, radii, queries, tau_e6 / 1e6
        )

        def pruned_run() -> int:
            return cosine_threshold_join(spark, tier_dir, queries, tau_e6).count()

        def brute_run() -> int:
            from etl_generator_demo_spark.catalog import read_table

            q = spark.createDataFrame(
                queries, "query_id long, qv array<double>"
            ).withColumn("_qn", _norm(F.col("qv")))
            emb = (
                read_table(spark, tier_dir, "embeddings")
                .select("vec_id", _as_double("embedding").alias("_cv"))
                .withColumn("_cn", _norm(F.col("_cv")))
            )
            return (
                emb.crossJoin(F.broadcast(q))
                .select(
                    F.floor(
                        F.try_divide(
                            _dot(F.col("_cv"), F.col("qv")),
                            F.col("_cn") * F.col("_qn"),
                        )
                        * 1_000_000
                    )
                    .cast("long")
                    .alias("cos_e6")
                )
                .filter(F.col("cos_e6") >= tau_e6)
                .count()
            )

        timings = {}
        hits = {}
        for label, fn in (("pruned", pruned_run), ("brute", brute_run)):
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                hits[label] = fn()
                best = min(best, time.time() - t0)
            timings[label] = round(best, 3)
        row = {
            "tier": tier,
            "n_vectors": n,
            "lists_total": COS_IVF_LISTS,
            "lists_read": len(lists_read),
            "pruned_sec": timings["pruned"],
            "brute_sec": timings["brute"],
            "hits_pruned": hits["pruned"],
            "hits_brute": hits["brute"],
            "exact": hits["pruned"] == hits["brute"],
        }
        out.append(row)
        print(f"  clustered-arm {tier}: {row}", file=sys.stderr)
    return out


#: Cores arm (r17; VERDICT r16 item 6): the heaviest shuffle-heavy
#: bench headliners, timed on the LARGEST buildable fixture (the
#: 10x-sf0.1 synth tier ≈ sf1) at two core counts, so per-core
#: scale-out is a measured number instead of an inference from plan
#: shapes. sf0.1 itself cannot show scale-out (every headliner is
#: flat-to-faster at 8 cores there — fixed per-task and job overheads
#: dominate a 17 MB fixture). Exclusions, with reasons:
#: - x3_neardup_lsh_bucketed: the synth tier's replica embeddings are
#:   bit-identical, so the candidate-pair relation inflates ~100x and
#:   the run measures that data shape (also makes it minutes-long);
#:   its scale-out proxy here is x2_removal_rematerialize (same
#:   index-scan + wide-shuffle family on the perturbed TEXT corpus).
#: - st_txlog_exactly_once / d_txlog_time_travel: wall clock is 4-5
#:   sequential driver-side commit protocols (fsync + manifest link),
#:   not cluster work — a cores ratio would measure the protocol.
CORES_ARM_QUERIES = [
    "x4_decontam_funnel",
    "g_hits_bipartite",
    "x2_removal_rematerialize",
    "x2_jaccard_threshold_sweep",
    "x4_bpe_merge_steps",
]


def cores_arm_single(spark, scratch: str, names: list[str]) -> dict:
    """Time ``names`` on the synth tier at THIS process's core count
    (min-of-2, noop sink for corpus-sized outputs — same methodology
    as the main probe). Emits one JSON object on stdout."""
    from etl_generator_demo_spark.registry import load_all

    registry = load_all()
    timings = {}
    for name in names:
        fn = registry[name].fn
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            df = fn(spark, scratch)
            if name in NOOP_SINK:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 2)
        print(f"  cores-arm @{spark.sparkContext.master}: {name} {best:.2f}s",
              file=sys.stderr)
    return {
        "master": spark.sparkContext.master,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "timings": timings,
    }


def cores_arm(scratch: str, cores: list[int], names: list[str]) -> dict:
    """Spawn one child probe per core count (a JVM's master is fixed
    for its lifetime) and merge sec@low vs sec@high + ratios."""
    import subprocess

    per_cores: dict[str, dict[str, float]] = {}
    for n in cores:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--cores-arm-single", "--scratch", scratch, "--names", *names,
        ]
        out = subprocess.run(
            cmd, env=env, capture_output=True, text=True, check=True
        )
        per_cores[str(n)] = json.loads(out.stdout.strip().splitlines()[-1])[
            "timings"
        ]
        print(f"  cores-arm: {n} cores done", file=sys.stderr)
    lo, hi = str(min(cores)), str(max(cores))
    ratios = {
        q: round(per_cores[lo][q] / per_cores[hi][q], 2)
        for q in names
        if per_cores[hi].get(q)
    }
    return {
        "tier": "sf1-synth(10x-sf0.1)",
        "cores": cores,
        "sec_at": per_cores,
        "speedup_low_to_high": ratios,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scratch", default="/tmp/sf1x10")
    ap.add_argument(
        "--names",
        nargs="*",
        default=None,
        help="probe only these queries (late-round registrations)",
    )
    ap.add_argument(
        "--merge",
        default=None,
        help="merge results into this existing PROBE_r*.json in place",
    )
    ap.add_argument(
        "--clustered-arm",
        action="store_true",
        help="run ONLY the clustered ball-bound pruning arm",
    )
    ap.add_argument(
        "--cores-arm",
        action="store_true",
        help="run ONLY the cores scale-out arm (spawns one child probe "
        "per core count on the synth tier; r17)",
    )
    ap.add_argument(
        "--cores-arm-single",
        action="store_true",
        help="internal: one child of --cores-arm at $SPARK_GRAFT_CPUS",
    )
    ap.add_argument(
        "--cores", nargs="*", type=int, default=[8, 32],
        help="core counts for --cores-arm (default 8 32)",
    )
    args = ap.parse_args()

    if args.cores_arm:
        names = args.names if args.names else CORES_ARM_QUERIES
        arm = cores_arm(args.scratch, args.cores, names)
        if args.merge:
            with open(args.merge) as fh:
                prior = json.load(fh)
            prior["cores_scaling"] = arm
            with open(args.merge, "w") as fh:
                json.dump(prior, fh)
            print(f"merged cores arm into {args.merge}", file=sys.stderr)
        else:
            print(json.dumps({"cores_scaling": arm}))
        return

    from etl_generator_demo_spark.registry import load_all
    from etl_generator_demo_spark.session import get_spark

    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    if args.cores_arm_single:
        print("synthesizing 10x tier (one-time)...", file=sys.stderr)
        synthesize_10x(spark, "/root/testdata/sf0.1", args.scratch)
        names = args.names if args.names else CORES_ARM_QUERIES
        print(json.dumps(cores_arm_single(spark, args.scratch, names)))
        return

    if args.clustered_arm:
        arm = clustered_ball_bound_arm(spark, args.scratch)
        if args.merge:
            with open(args.merge) as fh:
                prior = json.load(fh)
            prior["clustered_ball_bound"] = arm
            with open(args.merge, "w") as fh:
                json.dump(prior, fh)
            print(f"merged clustered arm into {args.merge}", file=sys.stderr)
        else:
            print(json.dumps({"clustered_ball_bound": arm}))
        return

    print("synthesizing 10x tier (one-time)...", file=sys.stderr)
    synthesize_10x(spark, "/root/testdata/sf0.1", args.scratch)

    tiers = [
        ("sf0.01", "/root/testdata/sf0.01", 1),
        ("sf0.1", "/root/testdata/sf0.1", 10),
        ("sf1-synth", args.scratch, 100),
    ]
    results: dict[str, dict[str, float]] = {}
    for name in (args.names if args.names else QUERIES):
        fn = registry[name].fn
        results[name] = {}
        for tier, path, _ in tiers:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                df = fn(spark, path)
                if name in NOOP_SINK:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.collect()
                best = min(best, time.time() - t0)
            results[name][tier] = round(best, 2)
            print(f"  {name} @{tier}: {best:.2f}s", file=sys.stderr)

    record = {"tiers": {t: s for t, _, s in tiers}, "timings": results}
    if args.merge:
        with open(args.merge) as fh:
            prior = json.load(fh)
        prior["timings"].update(results)
        prior["slopes"] = fit_slopes(prior["tiers"], prior["timings"])
        with open(args.merge, "w") as fh:
            json.dump(prior, fh)
        print(f"merged {len(results)} into {args.merge}", file=sys.stderr)
    else:
        record["slopes"] = fit_slopes(record["tiers"], record["timings"])
        print(json.dumps(record))


def fit_slopes(
    tiers: dict[str, float], timings: dict[str, dict[str, float]]
) -> dict[str, float]:
    """Per-query OLS slope of log(wall) on log(scale) across the probed
    tiers (r12 verdict item 9: make bench wobble attributable). Reading
    the number: ~0 = flat (model/index/lattice-bounded — scale-free),
    ~0.5-1 = linear-with-fixed-overheads, >1.3 = superlinear (either a
    plan regression or a data-shape densification documented next to
    the query's entry in QUERIES). Fixed per-query overhead (session,
    planning, ~0.2-0.5 s) compresses slopes toward 0 at these small
    absolute times, so slopes are comparable round-over-round, not
    absolute complexity exponents."""
    import math

    out: dict[str, float] = {}
    for name, per_tier in timings.items():
        pts = [
            (math.log(scale), math.log(max(per_tier[t], 1e-3)))
            for t, scale in tiers.items()
            if t in per_tier
        ]
        if len(pts) < 2:
            continue
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        denom = n * sxx - sx * sx
        if denom:
            out[name] = round((n * sxy - sx * sy) / denom, 3)
    return out


if __name__ == "__main__":
    main()
