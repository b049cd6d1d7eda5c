"""Queries of ``operators/analytics_ext.py``: the Z-order (Morton)
clustering formula, the ANALYZE TABLE statistics and the conversion
funnel on an empty event log."""

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_generator_demo_spark.operators.analytics_ext import _morton_expr
from etl_generator_demo_spark.operators.relational import t

_MORTON = _morton_expr("px", "py", "//")


def test_morton_formula_interleaves_bits():
    """The generated arithmetic formula IS valid Python with '//' —
    evaluate it directly against a reference bit-interleave."""
    expr = _morton_expr("px", "py", "//")

    def ref(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for px, py in [(0, 0), (3, 5), (255, 0), (0, 255), (170, 85), (255, 255)]:
        assert eval(expr) == ref(px, py), (px, py)


def _ref_interleave(x, y):
    z = 0
    for i in range(8):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 255), st.integers(0, 255))
def test_morton_formula_matches_reference(px, py):
    assert eval(_MORTON) == _ref_interleave(px, py)


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 255), st.integers(0, 255))
def test_morton_is_injective_on_the_grid(px, py):
    """The interleave is a bijection [0,255]^2 -> [0,65535]: decode by
    de-interleaving and recover the inputs exactly."""
    z = _ref_interleave(px, py)
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(8))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
    assert (rx, ry) == (px, py)
    assert 0 <= z <= 65535


def test_analyze_stats_hand_checks(spark, sf_dir):
    from etl_generator_demo_spark.operators.analytics_ext import (
        d_analyze_table_stats,
    )

    rows = {r["column_name"]: r for r in d_analyze_table_stats(spark, sf_dir).collect()}
    n = t(spark, sf_dir, "lineitem").count()
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


def test_funnel_conversion_empty_events_matches_oracle(
    spark, sf_dir, replace_table, oracle_mismatches
):
    """No viewers: the click rate's zero denominator gives NULL (the
    zero-denominator rule), as in DuckDB, instead of DIVIDE_BY_ZERO."""
    d = replace_table("events", t(spark, sf_dir, "events").limit(0))
    assert not oracle_mismatches(d, ["x4_funnel_conversion"])
