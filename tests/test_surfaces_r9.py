"""Round-9 surface pins beyond the oracle gate: the QUALIFY rewrite
against a hand-computed leave-in comparison, and the EXCLUDE rewrite's
empty-peer NULL semantics.
"""

from __future__ import annotations

from collections import Counter

from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.operators.surfaces_r9 import (
    w_frame_exclude_current,
    w_qualify_above_customer_avg,
)


def test_qualify_rewrite_matches_hand_computation(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    ).collect()
    by_cust: dict[int, list] = {}
    for r in orders:
        by_cust.setdefault(r.o_custkey, []).append(r)
    expect: Counter = Counter()
    expect_sum: Counter = Counter()
    for rows in by_cust.values():
        cents = [int(r.o_totalprice * 100 // 1) for r in rows]
        n, s = len(cents), sum(cents)
        for r, c2 in zip(rows, cents):
            if c2 * n > s:
                expect[r.o_orderpriority] += 1
                expect_sum[r.o_orderpriority] += c2
    got = {
        r.o_orderpriority: (r.n_above_avg, r.sum_above_c2)
        for r in w_qualify_above_customer_avg(spark, sf_dir).collect()
    }
    assert got == {k: (expect[k], expect_sum[k]) for k in expect}


def test_exclude_current_single_order_customer_is_null(spark, sf_dir):
    rows = w_frame_exclude_current(spark, sf_dir).collect()
    solos = [r for r in rows if r.peer_n == 0]
    multis = [r for r in rows if r.peer_n > 0]
    assert multis, "fixture should have multi-order customers"
    for r in solos:
        assert r.peer_sum_c2 is None and r.above_peers is None
    for r in multis[:50]:
        assert r.peer_sum_c2 is not None and r.above_peers is not None
