"""Partition-count invariance: the driver hash-compares our queries
on ITS session (default 200 shuffle partitions) while we develop at
32 — the whole correctness story rests on results being independent
of physical partitioning. Pin it directly: run a rotating sample of
registered queries at 7 and at 32 shuffle partitions and require
IDENTICAL collected rows (values, not just counts).

The sample covers each major execution shape: keyed agg, window rank,
iterative checkpoint loop (trainer), prefix-scan primitive, sketch
merge, CDC arg-max, explode-sweep — plus every round-11 registration
not already in the list. Whole-registry invariance is implied by the
driver's cumulative green record; this test catches a regression in
one session instead of one round later."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

def _sample() -> list[str]:
    """Every current-round registration (pulled from the probe
    contract so the list cannot go stale) + this round's rewrites +
    one standing representative per execution shape."""
    from tools.scaling_probe import ROUND_REGISTRATIONS

    current = ROUND_REGISTRATIONS[max(ROUND_REGISTRATIONS)]
    return list(
        dict.fromkeys(
            [
                *current,
                # round-11 rewrites of earlier registrations
                "x4_item_item_recs",
                "g_sssp_weighted",
                "x3_vector_norm_audit",
                # standing representatives per execution shape
                "q1_pricing_summary",  # scan + grouped agg
                "w4_top3_orders_per_customer",  # window rank
                "x2_minhash_lsh_pairs",  # banded index join
                "x4_ngram_coverage_topk",  # rank + prefix scan
            ]
        )
    )


SAMPLE = _sample()


def _rows(spark, name, parts):
    from etl_generator_demo_spark.registry import load_all

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        df = load_all()[name].fn(spark, SF)
        cols = sorted(df.columns)
        return sorted(
            tuple(str(r[c]) for c in cols) for r in df.collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


@pytest.mark.parametrize("name", SAMPLE)
def test_partition_count_invariant(spark, name):
    assert _rows(spark, name, 7) == _rows(spark, name, 32), name
