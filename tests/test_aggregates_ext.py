"""Extended-aggregate tests: sketch tiers vs exact tiers."""

from __future__ import annotations

import datetime


def test_approx_percentiles_rank_accuracy(spark, sf_dir):
    """The sketch's guarantee is on RANK, not value (adjacent order
    statistics can be thousands apart on sparse data): the empirical
    CDF at each approximate percentile must sit within 2 percentage
    points of the requested percentile."""
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.aggregates_ext import a_percentiles_approx
    from etl_generator_demo_spark.operators.relational import t

    # the registered query outputs a bounded-error VERDICT (exact values
    # + within-2% flags); every flag must actually hold
    verdict = a_percentiles_approx(spark, sf_dir).collect()
    assert verdict
    for r in verdict:
        assert r["median_within_2pct"] and r["p90_within_2pct"] and r["p99_within_2pct"]

    # and the sketch's own guarantee is on RANK — check the estimates
    # directly against the empirical CDF
    approx = {
        r["o_orderpriority"]: r
        for r in t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("m"),
            F.expr("approx_percentile(o_totalprice, 0.9, 10000)").alias("p90"),
            F.expr("approx_percentile(o_totalprice, 0.99, 10000)").alias("p99"),
        )
        .collect()
    }
    orders = t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    vals: dict[str, list[float]] = {}
    for r in orders.collect():
        vals.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
    for k, row in approx.items():
        group = sorted(vals[k])
        n = len(group)
        for col, p in (("m", 0.5), ("p90", 0.9), ("p99", 0.99)):
            cdf = sum(1 for v in group if v <= row[col]) / n
            assert abs(cdf - p) <= 0.02 + 1.0 / n, (k, col, p, cdf)


def test_weighted_median_crossing_invariant(spark, sf_dir):
    """The reported value is the smallest v whose cumulative weight
    reaches half the total, per group — checked against a pandas
    recomputation."""
    from etl_generator_demo_spark.catalog import read_table
    from etl_generator_demo_spark.registry import load_all

    got = {
        r.grp: (r.weighted_median, r.total_weight, r.cum_weight_at_median)
        for r in load_all()["a_weighted_median"].fn(spark, sf_dir).collect()
    }
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity",
                "l_orderkey", "l_linenumber")
        .collect()
    )
    groups: dict[str, list] = {}
    for r in li:
        groups.setdefault(r.l_returnflag, []).append(
            (r.l_extendedprice, int(r.l_quantity), r.l_orderkey, r.l_linenumber)
        )
    for grp, rows in groups.items():
        rows.sort(key=lambda x: (x[0], x[2], x[3]))
        tw = sum(w for _, w, _, _ in rows)
        cw = 0
        for v, w, _, _ in rows:
            cw += w
            if 2 * cw >= tw:
                assert got[grp] == (v, tw, cw), grp
                break


def test_mode_tie_breaks_to_smallest_value(spark, tmp_path):
    """Two priorities tied for most frequent → MIN(value) wins, and
    mode_count reports the tied count."""
    from etl_generator_demo_spark.operators.aggregates_ext import a_mode_orderpriority

    rows = (
        [(i, 1, "O", 1.0, datetime.datetime(2024, 1, 1), "2-HIGH") for i in range(3)]
        + [(10 + i, 1, "O", 1.0, datetime.datetime(2024, 1, 1), "1-URGENT") for i in range(3)]
        + [(20, 1, "O", 1.0, datetime.datetime(2024, 1, 1), "5-LOW")]
        + [(30 + i, 1, "F", 1.0, datetime.datetime(2024, 1, 1), "5-LOW") for i in range(2)]
    )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    d = str(tmp_path)
    got = {r["status"]: (r["mode_priority"], r["mode_count"]) for r in a_mode_orderpriority(spark, d).collect()}
    assert got == {"O": ("1-URGENT", 3), "F": ("5-LOW", 2)}
