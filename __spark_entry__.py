"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 as the smoke
check; ``queries()``/``oracle_sql()`` expose the full operator
registry (etl_generator_demo_spark.registry) so the driver can
hash-compare every operator against DuckDB at sf0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §7.2): revenue by market segment —
    customer⋈orders⋈lineitem, grouped, ordered. Exercises scan, join
    (broadcast + shuffle), aggregation, sort in one vertical slice."""
    from etl_generator_demo_spark.operators.relational import q2_revenue_by_segment

    return q2_revenue_by_segment(spark, SMOKE_SF_DIR)


#: Queries whose implementing code was REWRITTEN after their newest
#: green driver row (git history isn't available to the entry point,
#: so this list is maintained by hand; remove entries once the
#: post-rewrite spelling earns a fresh green row). These re-enter the
#: driver's 50-slot sample just below red queries — a green row for
#: code that has since changed is not a regression guard. The list
#: holds one entry per changed shared kernel: an entry may leave when
#: another listed query exercises the same changed kernel and its own
#: plan (``tools/plan_dump.py``) is identical to the pre-rewrite plan,
#: modulo ids.
_REWRITTEN_SINCE_GREEN = (
    # r16: candidate-join size gate in verified_neardup_pairs (r15
    # verdict item 1) — warm small-SF plan is unchanged (broadcast
    # tier), but the code is new since the r13 green
    "x2_neardup_verified",
    # graph family moved into operators/graph.py with shared edge,
    # degree, triangle, wedge and hub-source builders
    "g_triangle_count",
    "g_clustering_coefficient",
    "g_degree_assortativity",
    "g_adamic_adar_topk",
    "g_jaccard_link_prediction",
    "g_community_sizes",
    "g_modularity_lpa",
    "g_bfs_hop_histogram",
    # near-dup pair family on one overlap kernel (dedup.overlap_pairs),
    # LSH pairs through pairs_from_banded / doc_lsh_pairs, sweeps moved
    # into dedup.py and textops.py
    "x2_ngram_jaccard_pairs",
    "x2_lsh_precision_report",
    "x2_minhash_estimate_error",
    "x2_minhash_k_sweep",
    "x2_dedup_qa_sample",
    "x2_jaccard_threshold_sweep",
    "x2_lsh_band_tuning_curve",
    "x2_simhash_neardup_pairs",
    "x2_token_overlap_join",
    "x2_shingle_containment_pairs",
    "x2_bbit_minhash_estimates",
    "x2_dedup_methods_agreement",
    "x4_corpus_pipeline",
    "x4_quality_threshold_sweep",
    # decontamination family moved into operators/decontam.py: one flag
    # builder per tier, one rollup, funnel and tier lattice composed
    # from them; the cosine index builds on an empty corpus (the recall
    # and fixed-eval variants share x3_semantic_decontam_indexed's
    # kernel, the tier lattice and x4_decontaminate the funnel's; their
    # plans are unchanged)
    "x4_fuzzy_decontam",
    "x3_semantic_decontam",
    "x3_semantic_decontam_indexed",
    "x4_decontam_funnel",
    # vectors/ANN family on one set of kernels (query_vector, the LSH
    # sign-bit kernel, index_store, one LSH probe over a bucket list):
    # one query per changed plan or Python stage (x3_kmeans_clusters
    # stands for the four other queries on the same Lloyd stage,
    # x3_pca_power_iteration for x3_pc1_projection_histogram on the
    # same pc1_loading). The family's other respelled queries keep
    # their plans and stay out.
    "x3_ann_batch_probe",
    "x3_prefilter_selectivity_sweep",
    "x3_ann_recall_curve",
    "x3_silhouette_centroid",
    "x3_ivfpq_adc_topk",
    "x3_ivf_nprobe_recall_sweep",
    "x3_pq_codes",
    "x3_kmeans_clusters",
    "x3_pca_power_iteration",
    "x3_ann_lsh_multiprobe",
    "x3_exact_topk_indexed",
    # driver scalars read off the checkpoint's own job
    # (session.checkpoint_with; fixpoint is covered by
    # g_bfs_hop_histogram above), the version rollup in one union +
    # groupBy, and the report card's nullif-guarded rates
    "g_hits_bipartite",
    "d_txlog_time_travel",
    "x4_corpus_report_card",
    # statistics family on one moments kernel and one spearman, with
    # one zero-denominator rule (operators/stats.py)
    "a_corr_matrix_lineitem",
    "x4_ranker_agreement",
    # corpus-curation, privacy and media queries on shared kernels:
    # one bigram relation and count model (operators/ngram_lm.py), one
    # BM25 and one query-likelihood term (retrieval.py), one
    # quasi-identifier class builder (operators/privacy.py)
    "x4_doc_perplexity_filter",
    "x4_query_likelihood_topk",
    "x4_t_closeness_audit",
    # the unigram-LM Viterbi as one in-row lattice kernel (the encode
    # query runs both the trainer and the serving pass), and the DSIR
    # and PMI corpus totals as in-plan rows instead of eager build-time counts
    "x4_unigram_encode_corpus",
    "x4_dsir_importance",
    "x4_pmi_cooccurrence",
    # the token relation in operators/tokens.py keeps every caller's
    # plan; these two plans change on purpose: PMI's (doc_id, term)
    # distinct shares one exchange (x4_pmi_cooccurrence above), TF-IDF
    # counts its documents in-plan and rolls df up from tf
    "x4_tfidf_top_terms",
)


def _driver_priority_order(reg) -> list[str]:
    """Order the registry so the driver's bounded per-round sample
    yields the most informative CORRECTNESS record. Re-examining the
    r03 record against the r03-era ordering shows the driver DOES take
    a strict 50-prefix of ``queries()`` order — all 50 sampled rows
    were rank-0 entries in prefix order — so this ordering fully
    determines which queries earn driver rows each round:

    0. previously SAMPLED-BUT-RED queries (the LATEST driver row in
       ``CORRECTNESS_r*.json`` round order is red — including a
       post-rewrite red for a rewritten-since-green entry) — clearing
       the record's failures outranks everything;
    1. rewritten-since-last-green queries (_REWRITTEN_SINCE_GREEN) —
       their old green rows certify code that no longer exists, so
       the post-rewrite spelling re-enters the sample;
    2. every other query, stalest driver row first (a query with no
       row yet counts as stalest);
    3. rows-only queries last — since round 4 the registry has none
       (every registered query is oracle-backed; the floor is pinned
       in tests/test_registry.py).

    The full-registry gate is ``tools/oracle_check.py`` regardless of
    what the driver samples.
    """
    import glob
    import json

    # Latest driver verdict per query (files sort in round order for
    # r01..r99; later rows overwrite). Using the LATEST row — not
    # ever-green/ever-red sets — means a _REWRITTEN_SINCE_GREEN query
    # whose post-rewrite sample came back RED ranks 0 (red-first), as
    # the tier docstring promises; the r11 advice caught the old
    # set-difference masking exactly that case.
    latest: dict[str, bool] = {}
    latest_round: dict[str, int] = {}
    for rnd, path in enumerate(
        sorted(glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")))
    ):
        try:
            with open(path) as fh:
                for name, row in json.load(fh).items():
                    latest[name] = bool(
                        row.get("rows_match") and row.get("hash_match")
                    )
                    latest_round[name] = rnd
        except (OSError, ValueError):
            continue
    rewritten = {n: i for i, n in enumerate(_REWRITTEN_SINCE_GREEN)}
    names = list(reg)

    def rank(name):
        if reg[name].oracle is None:
            return (3, 0)
        if latest.get(name) is False:
            # newest driver row is RED — including a post-rewrite red
            # for a _REWRITTEN_SINCE_GREEN entry; failures first
            return (0, 0)
        if name in rewritten:
            # latest row is green, but for a spelling that has since
            # been rewritten — re-enter the sample below fresh reds
            return (1, rewritten[name])
        # newest row green, code unchanged — STALENESS tier (r13,
        # verdict item 3): spend the driver's 50-slot sample
        # re-earning the OLDEST greens first, so every query re-greens
        # within a few rounds while code keeps moving.
        return (2, latest_round.get(name, -1))

    return sorted(names, key=rank)  # stable: keeps reg order within ties


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in driver
    sampling priority order (see ``_driver_priority_order``)."""
    from etl_generator_demo_spark.registry import load_all

    reg = load_all()
    return {name: reg[name].fn for name in _driver_priority_order(reg)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; non-SQL-expressible ops are
    omitted (driver records a rows-only check for those)."""
    from etl_generator_demo_spark.registry import load_all

    return {name: rq.oracle for name, rq in load_all().items() if rq.oracle is not None}
