"""Oracle canary: one representative query per family is diffed
against DuckDB inside pytest, so a refactor that breaks engine/oracle
parity fails the suite immediately (the full 70+-query sweep lives in
tools/oracle_check.py and the driver's gate)."""

from __future__ import annotations

import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CANARIES = [
    "q1_pricing_summary",        # scan + grouped agg
    "q2_revenue_by_segment",     # joins
    "w3_running_totals",         # window frames
    "u_cte_above_avg_nations",   # CTE + subquery
    "f_json_extract",            # JSON + events nanos handling
    "x1_dedup_exact",            # dedup
    "x2_ngram_jaccard_pairs",    # shingle pipeline
    "x3_cosine_topk",            # vector math
    "st_session_windows",        # sessionization
    "j8_asof_purchase_last_click",  # as-of
    "x2_dedup_clusters",         # connected components
    "x2_dedup_incremental",      # persisted band index probe
    "x3_neardup_lsh_bucketed",   # bucketed embedding near-dup
    "x4_pii_scrub",              # cross-engine regex parity
    "x4_sequence_packing",       # window-cumsum packing
    "x4_token_budget_mixture",   # mixture sampling
    "st_stream_stream_attribution",  # interval join
    "x4_corpus_pipeline",        # 4-stage composition
    "x4_train_val_test_split",   # hash-bucket split
    "x4_funnel_conversion",      # ordered funnel
    "x4_cohort_retention",       # cohort weeks
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    from etl_generator_demo_spark.catalog import TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", CANARIES)
def test_oracle_parity(name, spark, sf_dir, duck):
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import canon  # driver-faithful: dtype-exact, rejects arrays

    from etl_generator_demo_spark.registry import load_all

    rq = load_all()[name]
    s_cols, s_rows = canon(rq.fn(spark, sf_dir).toPandas())
    d_cols, d_rows = canon(duck.execute(rq.oracle).fetchdf())
    assert s_cols == d_cols, f"{name}: schema mismatch ({s_cols} vs {d_cols})"
    assert len(s_rows) == len(d_rows), f"{name}: rowcount {len(s_rows)} vs {len(d_rows)}"
    assert s_rows == d_rows, f"{name}: value mismatch"
