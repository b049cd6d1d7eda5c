"""Graph family (``operators/graph.py``): independent re-derivations of
the exact operators, planted-graph anchors, degenerate graphs against
the DuckDB oracle, and the ``fixpoint`` loop contract."""

from __future__ import annotations

import datetime
from collections import Counter, deque

import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators import graph
from etl_generator_demo_spark.operators.dedup_clusters import connected_components
from etl_generator_demo_spark.operators.graph import (
    PPR_SCALE,
    SSSP_BASKET_CAP,
    WCC_HIGH_QTY,
    copurchase_edges,
    fixpoint,
    g_bfs_hop_histogram,
    g_clustering_coefficient,
    g_hits_bipartite,
    g_personalized_pagerank,
    g_sssp_weighted,
    g_wcc_size_histogram,
    sssp_copurchase_edges,
    triangle_stats,
    wcc_components,
    x4_item_item_recs,
)
from etl_generator_demo_spark.operators.hierarchy import ancestor_pairs, ancestor_walk
from etl_generator_demo_spark.operators.relational import t

LINEITEM_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date"
)


def _write_lineitem(spark, path, lines, qty=1.0):
    """Write (orderkey, partkey) lines as ``<path>/lineitem.parquet``."""
    spark.createDataFrame(
        [
            (ok, pk, 1, 1, qty, 10.0, 0.0, 0.0, "N", "O", datetime.date(2024, 1, 3))
            for ok, pk in lines
        ],
        LINEITEM_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")


def _union_find(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _high_qty_edges(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= WCC_HIGH_QTY)
    return [(r.pa, r.pb) for r in copurchase_edges(li).collect()]


# ---------------------------------------------------------------------------
# Exact WCC / BFS against driver-side re-derivations: a union-find and a
# deque BFS over the same edge list prove the distributed fixpoints
# converged to the true answer, not merely to what the unrolled SQL
# oracle also computes.
# ---------------------------------------------------------------------------


def test_wcc_matches_union_find(spark, sf_dir):
    expect = _union_find(_high_qty_edges(spark, sf_dir))
    got = {
        r.part_id: r.component_id for r in wcc_components(spark, sf_dir).collect()
    }
    assert got == expect


def test_wcc_histogram_consistent_with_assignment(spark, sf_dir):
    comp = _union_find(_high_qty_edges(spark, sf_dir))
    sizes = Counter(Counter(comp.values()).values())
    got = {
        r.component_size: r.n_components
        for r in g_wcc_size_histogram(spark, sf_dir).collect()
    }
    assert got == {int(k): int(v) for k, v in sizes.items()}
    # fixture sanity: the thresholded graph has real structure (a
    # giant component AND small ones), not one hairball
    assert len(got) >= 3 and max(got) > 10


def test_bfs_histogram_matches_python_bfs(spark, sf_dir):
    """A driver-side deque BFS over the same edge list must produce the
    identical hop histogram, including the NULL (unreachable) bucket."""
    adj: dict[int, set[int]] = {}
    for a, b in _high_qty_edges(spark, sf_dir):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    src = sorted(adj, key=lambda x: (-len(adj[x]), x))[0]
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    hist = Counter(dist.values())
    unreachable = len(adj) - len(dist)
    got = {
        r.hops: r.n_parts for r in g_bfs_hop_histogram(spark, sf_dir).collect()
    }
    expect = {int(k): int(v) for k, v in hist.items()}
    if unreachable:
        expect[None] = unreachable
    assert got == expect


# ---------------------------------------------------------------------------
# Planted graphs with closed-form answers
# ---------------------------------------------------------------------------


def test_triangle_stats_on_planted_graphs(spark):
    """K4 (4 triangles), one pendant edge, and a star hub (0 triangles):
    exercises degree-ordered orientation incl. ties and hub nodes."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendant = [(4, 5)]
    star = [(10, 11), (10, 12), (10, 13), (10, 14)]
    edges = spark.createDataFrame(k4 + pendant + star, "pa long, pb long")
    row = triangle_stats(edges).collect()[0]
    assert row.n_triangles == 4
    assert row.n_nodes == 10
    assert row.n_edges == 11
    # wedges: K4 deg(1,2,3)=3,deg4=4 -> 3+3+3+6=15; node5:0; star hub C(4,2)=6
    assert row.n_wedges == 15 + 6
    assert row.gcc_ppm == (3 * 4 * 1_000_000) // 21


def test_clustering_coefficient_complete_graph(spark, tmp_path):
    """K4 (every order pairs all 4 parts) → every node: deg 3, 3
    triangles, lcc = 1.0; a star (hub + 3 leaves, no leaf-leaf edges)
    → hub lcc = 0."""
    rows = [(1, p) for p in (1, 2, 3, 4)]          # one order carrying K4
    rows += [(2, p) for p in (10, 11)]              # star spokes via 3 orders
    rows += [(3, p) for p in (10, 12)]
    rows += [(4, p) for p in (10, 13)]
    _write_lineitem(spark, tmp_path, rows)
    got = {r["node"]: r for r in g_clustering_coefficient(spark, str(tmp_path)).collect()}
    for p in (1, 2, 3, 4):
        assert got[p]["deg"] == 3 and got[p]["tri"] == 3 and got[p]["lcc_e6"] == 1_000_000
    assert got[10]["deg"] == 3 and got[10]["tri"] == 0 and got[10]["lcc_e6"] == 0
    # leaves have deg 1 < 3: excluded from the report
    assert 11 not in got and 12 not in got and 13 not in got


def _write_star_hub(spark, tmp_path):
    """Customer 1 buys parts 1..5; customers 2..4 buy part 1 only."""
    orders, lines = [], []
    ok = 0
    for p in range(1, 6):  # hub customer 1 buys parts 1..5
        ok += 1
        orders.append((ok, 1, "F", 10.0, datetime.date(2024, 1, 1), "1-URGENT"))
        lines.append((ok, p))
    for c in range(2, 5):  # customers 2..4 each buy part 1 only
        ok += 1
        orders.append((ok, c, "F", 10.0, datetime.date(2024, 1, 2), "1-URGENT"))
        lines.append((ok, 1))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    _write_lineitem(spark, tmp_path, lines)


@pytest.mark.slow
def test_hits_star_hub(spark, tmp_path):
    """Customer 1 buys every part; others buy one each -> customer 1 is
    the top hub, and the part bought by EVERYONE is the top authority."""
    _write_star_hub(spark, tmp_path)
    rows = g_hits_bipartite(spark, str(tmp_path)).collect()
    top_auth = [r for r in rows if r["kind"] == "authority" and r["rnk"] == 1][0]
    top_hub = [r for r in rows if r["kind"] == "hub" and r["rnk"] == 1][0]
    assert top_auth["node_id"] == 1  # the universally-bought part
    assert top_hub["node_id"] == 1  # the buy-everything customer


def test_hits_empty_bipartite_returns_typed_empty_frame(spark, sf_dir, tmp_path):
    for name in ("orders", "lineitem"):
        spark.read.parquet(f"{sf_dir}/{name}.parquet").limit(0).write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
    out = g_hits_bipartite(spark, str(tmp_path))
    assert out.collect() == []
    assert out.dtypes == [
        ("kind", "string"),
        ("node_id", "bigint"),
        ("score_e9", "bigint"),
        ("rnk", "bigint"),
    ]


def test_sssp_histogram_invariants(spark, sf_dir):
    out = g_sssp_weighted(spark, sf_dir).collect()
    assert out, "hub reaches neighbors within 4 rounds"
    # bucket 0 contains the source (dist 0)
    b0 = [r for r in out if r["dist_bucket"] == 0]
    assert b0 and b0[0]["min_dist_e6"] == 0
    for r in out:
        assert r["min_dist_e6"] <= r["max_dist_e6"]
        assert r["dist_bucket"] == r["min_dist_e6"] // 250_000


def test_sssp_edge_build_hub_caps_mega_baskets(spark):
    """Planted hot basket: an order with SSSP_BASKET_CAP+1 distinct
    parts contributes ZERO pairs to the co-purchase edge list (the
    per-key C(k,2) blowup is excluded in both engines), while normal
    baskets pair as usual."""
    hot = [(1, p) for p in range(SSSP_BASKET_CAP + 1)]  # mega-basket
    normal = [(2, 900), (2, 901), (3, 900), (3, 901), (3, 902)]
    li = spark.createDataFrame(
        hot + normal, "l_orderkey long, l_partkey long"
    )
    edges = sssp_copurchase_edges(li).collect()
    got = {(r["pa"], r["pb"]): r["cnt"] for r in edges}
    # no pair involves a hot-basket-only part (0..CAP-1 below 900)
    assert all(pa >= 900 and pb >= 900 for pa, pb in got)
    assert got == {(900, 901): 2, (900, 902): 1, (901, 902): 1}
    # exactly at the cap is still included
    at_cap = [(5, p) for p in range(SSSP_BASKET_CAP)]
    li2 = spark.createDataFrame(at_cap, "l_orderkey long, l_partkey long")
    n = sssp_copurchase_edges(li2).count()
    assert n == SSSP_BASKET_CAP * (SSSP_BASKET_CAP - 1) // 2


def test_ppr_source_dominates_and_mass_bounded(spark, sf_dir):
    out = g_personalized_pagerank(spark, sf_dir).collect()
    assert out and len(out) <= 20
    scores = [r["ppr_e9"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # teleport re-injection makes the source the top-ranked node
    li = t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    e = a.join(b, "ok").filter(F.col("pa") < F.col("pb")).select("pa", "pb").distinct()
    sym = e.select(F.col("pa").alias("u")).unionAll(e.select(F.col("pb").alias("u")))
    hub = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), "u")
        .first()["u"]
    )
    assert out[0]["part_id"] == hub
    # per-edge flooring only leaks mass: total never exceeds SCALE
    assert sum(scores) <= PPR_SCALE


# ---------------------------------------------------------------------------
# Degenerate graphs: every graph query against its DuckDB oracle on the
# sf0.001 fixture with lineitem cut down to one order holding one part
# (an edgeless graph) or two parts (a single edge). The hub pick and
# the zero-variance / zero-wedge ratios must give the oracle's empty
# result or NULL, not a crash.
# ---------------------------------------------------------------------------


def _one_order_lineitem(spark, sf_dir, n_parts):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ok = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_partkey").alias("k"))
        .filter(F.col("k") >= 2)
        .agg(F.min("l_orderkey"))
        .first()[0]
    )
    # both lines clear the WCC/BFS quantity threshold, so every graph
    # query sees the same one-order graph
    return (
        li.filter(F.col("l_orderkey") == ok)
        .dropDuplicates(["l_partkey"])
        .orderBy("l_partkey")
        .limit(n_parts)
        .withColumn("l_quantity", F.lit(WCC_HIGH_QTY).cast(dict(li.dtypes)["l_quantity"]))
    )


@pytest.mark.parametrize("shape,n_parts", [("edgeless", 1), ("one_edge", 2)])
def test_degenerate_graph_matches_oracle(
    spark, sf_dir, replace_table, oracle_mismatches, shape, n_parts
):
    from etl_generator_demo_spark.registry import load_all

    d = replace_table("lineitem", _one_order_lineitem(spark, sf_dir, n_parts))
    names = [n for n, rq in load_all().items() if rq.fn.__module__ == graph.__name__]
    assert len(names) == 18
    bad = oracle_mismatches(d, names)
    assert not bad, bad


# ---------------------------------------------------------------------------
# fixpoint: raise on non-convergence, typed empty results, job counts
# ---------------------------------------------------------------------------


def test_fixpoint_raises_naming_caller(spark):
    def grow(state):
        return state.select((F.col("id") + 1).alias("id"))

    with pytest.raises(RuntimeError, match="my_loop did not converge in 3 rounds"):
        fixpoint(spark.range(2), grow, [F.sum("id")], 3, "my_loop")


def _tree(spark, rows):
    return spark.createDataFrame(rows, "id long, parent long")


def _cc(spark, nodes, pairs):
    return connected_components(
        spark.createDataFrame(nodes, "doc_id long"),
        spark.createDataFrame(pairs, "doc_a long, doc_b long"),
    )


#: One fixed small input per converted loop: a 16-node chain (tree
#: walks), an 8-node chain plus one pair (components), and a 7-part
#: path of two-part orders (BFS).
_CHAIN = [(0, None)] + [(i, i - 1) for i in range(1, 16)]
_LOOPS = {
    "connected_components": lambda spark, d: _cc(
        spark, [(i,) for i in range(10)], [(i, i + 1) for i in range(7)] + [(8, 9)]
    ),
    "ancestor_walk": lambda spark, d: ancestor_walk(_tree(spark, _CHAIN)),
    "ancestor_pairs": lambda spark, d: ancestor_pairs(_tree(spark, _CHAIN)),
    "g_bfs_hop_histogram": lambda spark, d: g_bfs_hop_histogram(spark, d),
}
_EMPTY = {
    "connected_components": lambda spark, d: _cc(spark, [], []),
    "ancestor_walk": lambda spark, d: ancestor_walk(_tree(spark, [])),
    "ancestor_pairs": lambda spark, d: ancestor_pairs(_tree(spark, [])),
    "g_bfs_hop_histogram": lambda spark, d: g_bfs_hop_histogram(spark, d),
}
#: Spark job-id delta of one build of each loop on its fixed input,
#: with the convergence signature read off each round's checkpoint job.
_LOOP_JOBS = {
    "connected_components": 33,
    "ancestor_walk": 21,
    "ancestor_pairs": 26,
    "g_bfs_hop_histogram": 22,
}


@pytest.fixture
def path_graph_dir(spark, tmp_path):
    d = tmp_path / "path"
    _write_lineitem(
        spark, d, [(o, p) for o in range(1, 7) for p in (o, o + 1)], qty=50.0
    )
    return str(d)


@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_fixpoint_loop_empty_input_is_typed_empty(spark, tmp_path, path_graph_dir, loop):
    empty_dir = tmp_path / "empty"
    _write_lineitem(spark, empty_dir, [(1, 7)], qty=50.0)  # one part: no edge
    full = _LOOPS[loop](spark, path_graph_dir)
    out = _EMPTY[loop](spark, str(empty_dir))
    assert out.collect() == []
    assert out.dtypes == full.dtypes


@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_fixpoint_loop_job_count_pinned(spark, path_graph_dir, job_delta, loop):
    _LOOPS[loop](spark, path_graph_dir).collect()  # warm the session
    n, _ = job_delta(lambda: _LOOPS[loop](spark, path_graph_dir))
    assert n <= _LOOP_JOBS[loop], n


#: Spark job-id delta of one HITS build on the star-hub graph, each
#: half-sweep's L1 total read off its checkpoint job.
_HITS_JOBS = 22


def test_hits_job_count_pinned(spark, tmp_path, job_delta):
    _write_star_hub(spark, tmp_path)
    g_hits_bipartite(spark, str(tmp_path)).collect()  # warm the session
    n, _ = job_delta(lambda: g_hits_bipartite(spark, str(tmp_path)))
    assert n <= _HITS_JOBS, n


def test_checkpoint_with_reads_aggregates_off_the_checkpoint_job(spark, job_delta):
    from etl_generator_demo_spark.session import checkpoint_with

    df = spark.range(100).groupBy((F.col("id") % 7).alias("g")).agg(F.sum("id").alias("s"))
    bare, _ = job_delta(lambda: df.localCheckpoint(eager=True))
    n, (cp, values) = job_delta(lambda: checkpoint_with(df, F.sum("s"), F.count(F.lit(1))))
    assert values == (4950, 7)
    assert n <= bare, (n, bare)
    assert sorted(map(tuple, cp.collect())) == sorted(map(tuple, df.collect()))


def test_checkpoint_with_empty_zero_partition_frame(spark):
    from etl_generator_demo_spark.session import checkpoint_with

    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), "x long")
    assert empty.rdd.getNumPartitions() == 0
    cp, values = checkpoint_with(empty, F.sum("x"), F.count(F.lit(1)), F.max("x"))
    assert values == (None, 0, None)
    assert cp.collect() == [] and cp.dtypes == [("x", "bigint")]


def test_item_item_recs_invariants(spark, sf_dir):
    out = x4_item_item_recs(spark, sf_dir).collect()
    assert out, "fixture produces co-purchase pairs"
    by_item = {}
    for r in out:
        by_item.setdefault(r["item"], []).append(r)
        assert r["cooc"] >= 2
        assert 0 <= r["score_e6"] <= 1_000_000  # cosine^2 in [0, 1]
    for item, rows in by_item.items():
        ranks = sorted(r["rnk"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        scores = [r["score_e6"] for r in sorted(rows, key=lambda r: r["rnk"])]
        assert scores == sorted(scores, reverse=True)
