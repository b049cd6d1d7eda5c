"""Unit pins for tools/plan_audit.py's generic unbounded-global-window
gate (round-13): the check that keeps the x4_zipf_slope regression
class dead. It parses WindowExec's printed argument groups, so the
parsing itself needs pins — TreeNode omits EMPTY child lists, making
``Window [exprs], [X]`` ambiguous between partition-only (fine) and
order-only (the dangerous global sort) until the sort-direction tokens
disambiguate.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, os.path.join(ROOT, "tools"))

from plan_audit import _window_is_partitioned, unbounded_global_windows


def test_three_groups_is_partitioned():
    node = (
        "Window [row_number() windowspecdefinition(a#1, b#2 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS rn#3], [a#1], [b#2 ASC NULLS FIRST]"
    )
    assert _window_is_partitioned(node)


def test_two_groups_partition_only_is_partitioned():
    node = (
        "Window [count(1) windowspecdefinition(doc_id#5L, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS n#6L], [doc_id#5L]"
    )
    assert _window_is_partitioned(node)


def test_two_groups_order_only_is_unpartitioned():
    node = (
        "Window [row_number() windowspecdefinition(f#7L DESC NULLS LAST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS rnk#8], [f#7L DESC NULLS LAST, tk#9 ASC NULLS FIRST]"
    )
    assert not _window_is_partitioned(node)


def test_one_group_global_aggregate_window_is_unpartitioned():
    node = (
        "Window [sum(x#1L) windowspecdefinition(specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), unboundedfollowing$())) AS total#2L]"
    )
    assert not _window_is_partitioned(node)


def test_unpartitioned_window_without_limit_head_flags():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- *(3) Sort [rnk#8 ASC NULLS FIRST], true, 0
   +- Window [row_number() windowspecdefinition(f#7L DESC NULLS LAST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rnk#8], [f#7L DESC NULLS LAST]
      +- *(2) Sort [f#7L DESC NULLS LAST], false, 0
         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
            +- *(1) HashAggregate(keys=[tk#9], functions=[count(1)])
               +- FileScan parquet [text#10]"""
    bad = unbounded_global_windows(plan)
    assert len(bad) == 1 and bad[0].startswith("Window [row_number()")


def test_unpartitioned_window_over_take_ordered_head_passes():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- Window [row_number() windowspecdefinition(f#7L DESC NULLS LAST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rnk#8], [f#7L DESC NULLS LAST]
   +- *(2) Sort [f#7L DESC NULLS LAST], false, 0
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
         +- TakeOrderedAndProject(limit=1000, orderBy=[f#7L DESC NULLS LAST], output=[tk#9,f#7L])
            +- *(1) HashAggregate(keys=[tk#9], functions=[count(1)])"""
    assert unbounded_global_windows(plan) == []


def test_partitioned_window_never_flags():
    plan = """*(2) Window [count(1) windowspecdefinition(doc_id#5L, specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS n#6L], [doc_id#5L]
+- *(1) Sort [doc_id#5L ASC NULLS FIRST], false, 0
   +- Exchange hashpartitioning(doc_id#5L, 32)
      +- FileScan parquet [doc_id#5L]"""
    assert unbounded_global_windows(plan) == []


def test_sibling_subtree_limit_does_not_excuse_the_window():
    """A Limit that is a SIBLING (outside the window's child subtree)
    must not count as the bounded head — the indent-scoped subtree
    walk has to stop at the dedent."""
    plan = """*(4) SortMergeJoin [k#1], [k#2], Inner
:- Window [row_number() windowspecdefinition(v#3 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#4], [v#3 ASC NULLS FIRST]
:  +- Exchange SinglePartition
:     +- FileScan parquet [v#3]
+- GlobalLimit 10
   +- FileScan parquet [k#2]"""
    assert len(unbounded_global_windows(plan)) == 1


def test_limit_on_one_join_branch_below_window_does_not_excuse():
    """r13 advice (round-14 fix): a Limit INSIDE the window's child
    subtree but on ONE branch of a join must not excuse the window —
    the other branch is unbounded and dominates the join's output.
    The old anywhere-in-subtree text search passed this; the
    first-child-spine walk must flag it."""
    plan = """Window [row_number() windowspecdefinition(v#3 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#4], [v#3 ASC NULLS FIRST]
+- *(5) Sort [v#3 ASC NULLS FIRST], false, 0
   +- Exchange SinglePartition
      +- *(4) SortMergeJoin [k#1], [k#2], Inner
         :- GlobalLimit 10
         :  +- FileScan parquet [k#1]
         +- *(2) Sort [k#2 ASC NULLS FIRST], false, 0
            +- FileScan parquet [k#2]"""
    assert len(unbounded_global_windows(plan)) == 1


def test_limit_on_direct_spine_through_passthrough_nodes_passes():
    """A bound on the direct input chain still excuses the window even
    through single-child pass-through nodes (Sort/Exchange/Project)."""
    plan = """Window [row_number() windowspecdefinition(v#3 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#4], [v#3 ASC NULLS FIRST]
+- *(3) Sort [v#3 ASC NULLS FIRST], false, 0
   +- Exchange SinglePartition
      +- *(2) Project [v#3]
         +- GlobalLimit 1000
            +- *(1) HashAggregate(keys=[tk#9], functions=[count(1)])
               +- FileScan parquet [text#10]"""
    assert unbounded_global_windows(plan) == []


def test_generate_between_window_and_limit_does_not_excuse():
    """explode() below the window re-inflates a limited input by a
    data-dependent factor — the spine walk stops at Generate."""
    plan = """Window [sum(x#1L) windowspecdefinition(specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS total#2L]
+- *(2) Generate explode(arr#5), [x#1L], false
   +- GlobalLimit 100
      +- FileScan parquet [arr#5]"""
    assert len(unbounded_global_windows(plan)) == 1


# ---------------------------------------------------------------------------
# round 16: cache-state-aware budgets (r15 verdict item 2)
# ---------------------------------------------------------------------------


def test_audit_applies_cold_budget_only_in_cold_state():
    """A plan over budget warm but within the cold pin must WARN warm
    and pass cold — the budget is keyed on the state the plan was
    actually built in."""
    from plan_audit import audit

    plan = (
        "*(1) Project\n"
        "+- Exchange hashpartitioning(a#1, 32)\n"
        "   +- Exchange hashpartitioning(b#2, 32)\n"
        "      +- Exchange hashpartitioning(c#3, 32)\n"
    )
    exp = {"max_exchanges": 2, "max_exchanges_cold": 3}
    assert any("3 shuffles" in p for p in audit("q", plan, exp, cold=False))
    assert audit("q", plan, exp, cold=True) == []
    # a cold pin is never LOOSER protection than none: without the
    # cold key the warm budget applies in both states
    assert any("shuffles" in p for p in audit("q", plan, {"max_exchanges": 2}, cold=True))


def test_forced_fallback_env_raises_and_counts(monkeypatch):
    """SPARK_GRAFT_FORCE_FALLBACK makes check_forced raise (the --cold
    determinism hook) and every fallback occurrence bumps events() —
    the counter plan_audit diffs to attribute a fallback to the query
    whose plan it was building."""
    import pytest

    from etl_generator_demo_spark.operators import _fallback

    monkeypatch.delenv("SPARK_GRAFT_FORCE_FALLBACK", raising=False)
    _fallback.check_forced("site")  # no-op when unset
    monkeypatch.setenv("SPARK_GRAFT_FORCE_FALLBACK", "1")
    with pytest.raises(_fallback.FallbackForced):
        _fallback.check_forced("site")
    n0 = _fallback.events()
    _fallback.warn_fallback_once("test.site", RuntimeError("x"))
    _fallback.warn_fallback_once("test.site", RuntimeError("x"))
    assert _fallback.events() == n0 + 2  # every occurrence, not just first


def test_reused_exchange_is_not_a_shuffle():
    """A ``ReusedExchange`` line names the exchange it reuses but moves
    no data: a relation shuffled once and read twice is one shuffle."""
    from plan_audit import audit, shuffle_count

    plan = (
        "*(5) SortMergeJoin [a#1], [a#9], Inner\n"
        ":- *(2) Sort [a#1 ASC NULLS FIRST], false, 0\n"
        ":  +- Exchange hashpartitioning(a#1, 32), ENSURE_REQUIREMENTS, [plan_id=10]\n"
        ":     +- *(1) FileScan parquet [a#1]\n"
        "+- *(4) Sort [a#9 ASC NULLS FIRST], false, 0\n"
        "   +- ReusedExchange [a#9], Exchange hashpartitioning(a#1, 32), "
        "ENSURE_REQUIREMENTS, [plan_id=10]\n"
    )
    assert shuffle_count(plan) == 1
    assert audit("q", plan, {"max_exchanges": 1}) == []
