"""Subquery decorrelation plans + skew/bucketing utilities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestSubqueries:
    def test_correlated_subquery_decorrelated_to_join(self, spark, sf_dir):
        from etl_generator_demo_spark.operators.subqueries import sq_correlated

        df = sq_correlated(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # after decorrelation there is a Join + Aggregate, no correlated
        # subquery expression left in the optimized plan
        assert "Join" in plan and "scalar-subquery" not in plan
        assert df.count() > 0

    def test_in_exists_planned_as_semi_anti(self, spark, sf_dir):
        from etl_generator_demo_spark.operators.subqueries import sq_in_exists

        plan = sq_in_exists(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftSemi" in plan and "LeftAnti" in plan


class TestSaltedJoin:
    def test_matches_plain_join(self, spark, sf_dir):
        from etl_generator_demo_spark.operators.relational import t
        from etl_generator_demo_spark.operators.skew import salted_join

        orders = t(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("k"), "o_orderkey"
        )
        cust = t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"), "c_mktsegment"
        )
        plain = orders.join(cust, "k").groupBy("c_mktsegment").count()
        salted = salted_join(orders, cust, "k").groupBy("c_mktsegment").count()
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    def test_skewed_key_spread_over_partitions(self, spark):
        from etl_generator_demo_spark.operators.skew import salted_join

        # one key carries 100k rows (hot), others 1 row each
        hot = spark.range(100_000).select(F.lit(1).alias("k"), F.col("id"))
        rest = spark.range(2, 100).select(F.col("id").alias("k"), F.col("id"))
        big = hot.union(rest)
        small = spark.range(1, 100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        out = salted_join(big, small, "k", factor=8)
        assert out.count() == 100_000 + 98
        # the hot key's rows really did receive >1 distinct salt
        n_salts = (
            big.withColumn("_salt", (F.rand(seed=42) * 8).cast("int"))
            .filter(F.col("k") == 1)
            .select("_salt")
            .distinct()
            .count()
        )
        assert n_salts == 8

    def test_left_join_preserved(self, spark):
        from etl_generator_demo_spark.operators.skew import salted_join

        big = spark.createDataFrame([(1, "a"), (2, "b")], "k long, x string")
        small = spark.createDataFrame([(1, 10)], "k long, v long")
        out = salted_join(big, small, "k", factor=4, how="left").collect()
        got = {r["k"]: r["v"] for r in out}
        assert got == {1: 10, 2: None}


class TestBucketing:
    def test_bucketed_join_has_no_shuffle(self, spark, sf_dir, tmp_path):
        from etl_generator_demo_spark.operators.relational import t
        from etl_generator_demo_spark.operators.skew import bucketed_table

        # warehouse.dir is static conf; managed tables land in the
        # default warehouse and are dropped in the finally block.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        try:
            bo = bucketed_table(
                spark, t(spark, sf_dir, "orders"), "b_orders", "o_orderkey", 8
            )
            bl = bucketed_table(
                spark,
                t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
                "b_lineitem",
                "o_orderkey",
                8,
            )
            joined = bo.join(bl, "o_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan  # no shuffle: co-located
            assert joined.count() == t(spark, sf_dir, "lineitem").count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_rejects_outer_modes(spark):
    """Right/full outer would emit each unmatched small-side row once
    per salt replica — reject instead of silently corrupting."""
    import pytest

    from etl_generator_demo_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "a")], "k int, v string")
    small = spark.createDataFrame([(1, "x")], "k int, w string")
    for how in ("right", "full", "outer", "right_outer"):
        with pytest.raises(ValueError, match="inner/left"):
            salted_join(big, small, "k", how=how)


def test_bloom_prune_no_false_negatives_planted(spark):
    """Membership invariant on a planted key set: every dim key passes;
    disjoint keys may false-positive but never the reverse."""
    from etl_generator_demo_spark.operators.skew import (
        bloom_bit_positions,
        bloom_prune,
    )

    dim = spark.createDataFrame([(k,) for k in range(100, 150)], "k long")
    fact = spark.createDataFrame([(k,) for k in range(0, 300)], "k long")
    bits = bloom_bit_positions(dim, "k")
    passed = {r.k for r in bloom_prune(fact, "k", bits).collect()}
    assert set(range(100, 150)) <= passed  # zero false negatives
    # blocked-bloom FP rate at this load is ~(50/4096)^3 — expect none
    assert len(passed - set(range(100, 150))) <= 2


@pytest.mark.slow
def test_bin_width_sweep_true_pairs_invariant(spark, tmp_path):
    """3 events for one user at t=0s, 30min, 90min: within-1h ordered
    pairs = (a,b) and (b,c) -> n_true_pairs = 2 at EVERY width (the
    no-lost-pairs invariant); day-wide buckets also catch the 90min
    (a,c) gap plus the reversed orders as candidates."""
    import datetime as dt

    from etl_generator_demo_spark.operators.skew import (
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


def test_salt_factor_sweep_closed_form(spark, tmp_path):
    """8 events, users 0..7: the planted hot-key case sends all but
    user 4 to key 0 (7 rows) and keeps key 4 (1 row). Unsalted row is
    exact; salting must never increase the straggler bound and pays
    |keys| x s replication."""
    import datetime as dt

    from etl_generator_demo_spark.operators.skew import (
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
