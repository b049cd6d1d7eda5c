"""Hierarchy traversal: pointer-doubling walk + transitive closure.

Covers what the sf-fixture oracle sweep can't: adversarial DEEP chains
(the fixture tree is ~4 levels; a 200-node path would take 200 rounds
of naive propagation but must converge in O(log n) doubling rounds),
forests with multiple roots, and the dangling-parent contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.hierarchy import (
    ancestor_pairs,
    ancestor_walk,
)


def _tree(spark, rows):
    return spark.createDataFrame(rows, "id long, parent long")


def test_walk_deep_chain_converges_logarithmically(spark):
    """A 200-node path: depth(k) = k. Naive one-hop propagation needs
    200 rounds; max_iter=20 only suffices if doubling works."""
    n = 200
    rows = [(0, None)] + [(i, i - 1) for i in range(1, n)]
    out = {r["id"]: (r["root_id"], r["depth"]) for r in ancestor_walk(_tree(spark, rows)).collect()}
    assert len(out) == n
    for i in range(n):
        assert out[i] == (0, i)


def test_walk_forest_multiple_roots(spark):
    rows = [
        (1, None), (2, 1), (3, 1), (4, 2),
        (10, None), (11, 10),
        (20, None),
    ]
    out = {r["id"]: (r["root_id"], r["depth"]) for r in ancestor_walk(_tree(spark, rows)).collect()}
    assert out == {
        1: (1, 0), 2: (1, 1), 3: (1, 1), 4: (1, 2),
        10: (10, 0), 11: (10, 1),
        20: (20, 0),
    }


def test_ancestor_pairs_full_closure(spark):
    rows = [(1, None), (2, 1), (3, 2), (4, 2)]
    got = {
        (r["id"], r["anc_id"], r["dist"])
        for r in ancestor_pairs(_tree(spark, rows)).collect()
    }
    assert got == {
        (2, 1, 1),
        (3, 2, 1), (3, 1, 2),
        (4, 2, 1), (4, 1, 2),
    }


def test_ancestor_pairs_deep_chain_size(spark):
    """Closure of an n-path has n*(n-1)/2 pairs, each with the exact
    hop distance — and must finish inside the doubling iteration cap."""
    n = 64
    rows = [(0, None)] + [(i, i - 1) for i in range(1, n)]
    got = ancestor_pairs(_tree(spark, rows))
    assert got.count() == n * (n - 1) // 2
    # spot-check the longest path
    top = got.filter(F.col("id") == n - 1).orderBy("dist").collect()
    assert [(r["anc_id"], r["dist"]) for r in top] == [
        (n - 1 - d, d) for d in range(1, n)
    ]


def test_walk_raises_instead_of_partial_result(spark):
    """A cycle never converges: the walk must raise, not return a
    wrong fixpoint (mirrors connected_components' contract)."""
    rows = [(1, 2), (2, 1)]
    with pytest.raises(RuntimeError, match="converge"):
        ancestor_walk(_tree(spark, rows), max_iter=5)


def test_walk_drops_dangling_subtrees_like_recursive_cte(spark):
    """A node whose parent id doesn't exist is unreachable from any
    root — the walk drops it (inner join), exactly like the
    recursive-CTE formulation never reaching it."""
    rows = [(1, None), (2, 1), (5, 99)]
    out = ancestor_walk(_tree(spark, rows))
    got = {r["id"]: (r["root_id"], r["depth"]) for r in out.collect()}
    assert got == {1: (1, 0), 2: (1, 1)}


def test_pagerank_tree_mass_and_monotonicity(spark, sf_dir):
    """Sanity of the lossy fixed-iteration PageRank: every rank
    positive, leaves sit at the (1-d)/N floor, and nodes with more
    children outrank nodes with fewer at the same level."""
    from etl_generator_demo_spark.operators.hierarchy import (
        PAGERANK_DAMPING,
        g_pagerank_tree,
        j_hierarchy_ancestors,
    )

    ranks = {r["id"]: r["rank_scaled"] for r in g_pagerank_tree(spark, sf_dir).collect()}
    n = len(ranks)
    assert all(v > 0 for v in ranks.values())
    # leaves (no inbound edges) hold exactly the teleport floor * N,
    # floor-scaled: (1-d)/N * N = 1-d
    children = {}
    for r in j_hierarchy_ancestors(spark, sf_dir).filter("dist = 1").collect():
        children.setdefault(r["anc_id"], set()).add(r["id"])
    leaves = set(ranks) - set(children)
    floor_val = 1.0 - PAGERANK_DAMPING
    assert leaves and all(abs(ranks[l] - floor_val) < 1e-4 for l in leaves)
    # any parent outranks any leaf
    assert min(ranks[p] for p in children) > max(ranks[l] for l in leaves)
