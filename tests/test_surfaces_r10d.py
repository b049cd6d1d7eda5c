"""Anchors for the round-10 batch-4 surfaces (verbatim SQL pins)."""

import datetime

from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.operators.surfaces_r10d import (
    u_values_inline_table,
    w_range_interval_verbatim,
)

SF = "/root/testdata/sf0.001"


def test_range_interval_window_hand_fixture(spark, tmp_path):
    """Customer 1's two orders 19 days apart share a 30-day window
    (peak = sum); customer 2's two orders 60 days apart never do
    (peak = the larger single order)."""
    rows = [
        (1, 1, "F", 100.0, datetime.date(2024, 1, 1), "1-URGENT"),
        (2, 1, "F", 50.0, datetime.date(2024, 1, 20), "1-URGENT"),
        (3, 2, "F", 100.0, datetime.date(2024, 1, 1), "1-URGENT"),
        (4, 2, "F", 50.0, datetime.date(2024, 3, 1), "1-URGENT"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = {
        r["o_custkey"]: r
        for r in w_range_interval_verbatim(spark, str(tmp_path)).collect()
    }
    assert out[1]["peak_30d_spend_c2"] == 15000  # 100.00 + 50.00 in cents
    assert out[2]["peak_30d_spend_c2"] == 10000  # windows never overlap
    assert out[1]["n_orders"] == out[2]["n_orders"] == 2


def test_values_inline_tiers_partition_customers(spark):
    out = u_values_inline_table(spark, SF).collect()
    names = {r["tier_name"] for r in out}
    assert names <= {"debt", "low", "mid", "high"}
    total = sum(r["n_customers"] for r in out)
    n_cust = t(spark, SF, "customer").count()
    # the tier ranges cover [-100000, 100000): every fixture balance
    assert total == n_cust


def test_ivf_nprobe_sweep_monotone_and_exhaustive(spark):
    """Probed lists nest, so candidates and recall are monotone in
    n_probe; probing all k lists IS the exact search (recall 10/10)."""
    from etl_generator_demo_spark.operators.clustering import (
        IVF_SWEEP_K,
        x3_ivf_nprobe_recall_sweep,
    )

    rows = x3_ivf_nprobe_recall_sweep(spark, SF).collect()
    cands = [r["n_candidates"] for r in rows]
    rec = [r[f"recalled_at_{IVF_SWEEP_K}"] for r in rows]
    assert cands == sorted(cands)
    assert rec == sorted(rec)
    assert rec[-1] == IVF_SWEEP_K  # exhaustive probe row is exact


def test_analyze_stats_hand_checks(spark):
    from etl_generator_demo_spark.operators.surfaces_r10d import (
        d_analyze_table_stats,
    )

    rows = {r["column_name"]: r for r in d_analyze_table_stats(spark, SF).collect()}
    n = t(spark, SF, "lineitem").count()
    assert all(r["n_rows"] == n for r in rows.values())
    # fixture lineitem has no nulls in these columns
    assert all(r["n_nulls"] == 0 for r in rows.values())
    # flags are tiny domains; keys are near-unique
    assert rows["l_returnflag"]["n_distinct"] <= 3
    assert rows["l_linestatus"]["n_distinct"] <= 2
    assert rows["l_orderkey"]["n_distinct"] <= n
    # string columns carry no encoded min/max by contract
    assert rows["l_returnflag"]["min_encoded"] is None
    # discount in [0, 0.1] -> cents in [0, 10]
    assert 0 <= rows["l_discount"]["min_encoded"] <= rows["l_discount"]["max_encoded"] <= 10


def test_time_bucket_alignment_and_totals(spark):
    """15-minute buckets anchor on the epoch grid (minute in
    {0,15,30,45}, seconds 0) and bucket totals re-add to the plain
    purchase totals over the covered span."""
    from etl_generator_demo_spark.operators.surfaces_r10d import (
        f_time_bucket_15min,
    )

    rows = f_time_bucket_15min(spark, SF).collect()
    assert rows
    for r in rows:
        ts = r["bucket_start"]
        assert ts.minute % 15 == 0 and ts.second == 0 and ts.microsecond == 0
    assert all(r["n_purchases"] >= 1 for r in rows)
