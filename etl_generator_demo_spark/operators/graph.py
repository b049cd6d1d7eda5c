"""Graph operators over the part co-purchase graph and the
customer→part purchase graph.

The reference exposes its FK join graph to NL→SQL users
(``sample_metadata.py:68-74``); these are the operators a user of that
surface runs to mine the relationships: census and cohesion
(triangles, clustering coefficient, degree statistics), communities
(label propagation, modularity, k-core), link prediction (Adamic-Adar,
Jaccard, association rules), exact partitions and distances (WCC,
BFS, weighted SSSP) and centrality (HITS, personalized PageRank).

Graphs:

- **co-purchase**: parts are nodes; ``pa < pb`` are linked when some
  order contains both (``copurchase_edges``; the oracle's ``e`` CTE).
  WCC and BFS use the high-quantity subgraph (both lines
  ``l_quantity >= WCC_HIGH_QTY``). ``symmetrize`` gives both
  directions ``(u, v)`` (the oracle's ``sym``), ``degrees`` the
  ``(node, deg)`` relation (the oracle's ``deg``);
- **purchase bipartite**: distinct (customer, part) pairs (HITS).

Each building block exists once, in Python and in oracle SQL:
the edge list, its symmetrization and degrees (``_edges_cte``); the
degree-ordered triangle enumeration (``closed_triangles``); the
hub-capped wedge enumeration of link prediction (``capped_wedges`` /
``_WEDGES_SQL``, cap ``WEDGE_CENTER_CAP``); the hub source of the
single-source traversals (``hub_source`` / ``_HUB_SQL``: max degree,
smallest id on ties, empty on an edgeless graph); and the
run-to-convergence loop (``fixpoint``).

Discipline:

- every iteration is an aggregate-join keyed on a node or edge, so a
  shuffle carries at most one row per (node, label), never one per
  edge visit;
- fixed-round operators (LPA, k-core, HITS, SSSP, PPR) run the
  schedule their oracle unrolls as CTEs; run-to-convergence operators
  (WCC, BFS, and the customer-tree walks in ``hierarchy.py``) prove
  convergence per run through ``fixpoint`` and raise instead of
  returning a partial result;
- ``localCheckpoint(eager=True)`` per round keeps the plan one round
  deep, and a scalar the driver needs from a round (a convergence
  signature, a HITS total) rides that checkpoint's own job
  (``session.checkpoint_with``);
- scores are integer fixed point (e6/e9) or FLOOR-scaled ratios of
  exact integer sums, so nothing can wobble between engines; a ratio
  whose denominator is zero on a degenerate graph is NULL, as in the
  oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..session import checkpoint_with
from .relational import t
from .stats import comoment, denom, moments

#: Synchronous label-propagation rounds. Fixed (not run-to-convergence):
#: synchronous LPA can 2-cycle on bipartite structures, so a fixed
#: schedule is the only deterministic cross-engine contract; 4 rounds
#: propagates labels across a diameter-8 neighborhood which saturates
#: the co-purchase fixture (and is the standard "few sweeps" regime of
#: Raghavan et al. 2007).
LPA_ROUNDS = 4

#: Peeling rounds for the fixed-round k-core approximation. Each round
#: removes every node of current degree < k; the true k-core is the
#: fixpoint, reached here when a round removes nothing.
KCORE_K = 3
KCORE_ROUNDS = 4

#: Wedge center cap for link prediction (Adamic-Adar, Jaccard): wedges
#: are enumerated at their common neighbor, a Σdeg² relation that a hub
#: node makes quadratic. Capping the CENTER degree bounds it at cap²·n
#: while only dropping the flattest signal (a mega-hub's neighbors
#: share it with everyone); the oracle applies the same cap, so the
#: check stays exact.
WEDGE_CENTER_CAP = 64

#: High-quantity co-purchase threshold for WCC and BFS: both endpoints
#: of an edge must be lines with l_quantity >= this. The unfiltered
#: graph collapses into ONE component at sf0.01 — a degenerate WCC
#: instance; thresholding keeps a giant component plus a tail of
#: small ones, which exercises min-label propagation and the size
#: histogram.
WCC_HIGH_QTY = 45

#: Unrolled oracle rounds for the synchronous min-label + pointer-
#: doubling schedule: O(log n) rounds, and 20 > 2·log2(n) for the
#: sf0.01 giant component (n=1237). The Spark side runs the same
#: schedule to its proven fixpoint, so an insufficient unroll surfaces
#: as a hash mismatch, never a silent agreement.
WCC_ROUNDS = 20

#: Unrolled BFS rounds: the hub eccentricity moves with the fixture
#: seed (19 at sf0.01, 30 at sf0.1 on the current seed); 40 leaves
#: margin. The Spark side expands to a proven fixpoint, so an
#: insufficient unroll surfaces as a hash mismatch; DuckDB's
#: MATERIALIZED per-round CTEs make post-fixpoint rounds cheap no-ops.
BFS_ROUNDS = 40

#: Personalized PageRank rounds (unrolled in the oracle), fixed-point
#: scale, and damping 0.85 as an exact ratio.
PPR_ROUNDS = 3
PPR_SCALE = 10**9
PPR_ALPHA_NUM, PPR_ALPHA_DEN = 85, 100

#: HITS iterations (unrolled in the oracle). Three sweeps separate
#: hubs from authorities on every fixture tier.
HITS_ITERS = 3
#: e9 fixed-point scale for HITS scores. Chosen so the hot product
#: raw*SCALE stays inside int64: after each normalization the score
#: TOTAL is SCALE, so the next raw sums are ≤ SCALE and raw*SCALE ≤
#: SCALE² = 1e18 < 2⁶³ (the first iteration starts from unit scores,
#: so its raws are plain degree counts). At 100 TB carry the products
#: as DECIMAL(38,0) — same plan.
HITS_SCALE = 10**9

#: Bellman–Ford rounds (graph diameter cover for the co-purchase
#: graph's giant component at the tested SFs).
SSSP_ROUNDS = 4
#: Distance histogram bucket width (e6 cost units).
SSSP_BUCKET_E6 = 250_000

#: SSSP basket cap: the weighted edge build pairs items within an
#: order — per-key C(k,2), quadratic in basket size. One mega-order
#: touching 10^5 parts would make that single key emit 5·10^9 pairs,
#: so baskets above 64 distinct items are excluded from the edge build
#: in BOTH engines; the pair stage is bounded at cap²/2 rows per basket
#: and the oracle check stays exact.
SSSP_BASKET_CAP = 64

#: Market-basket pair support floor for association rules.
MINSUP_PAIRS = 3


# ---------------------------------------------------------------------------
# Shared building blocks
# ---------------------------------------------------------------------------


def fixpoint(
    state: DataFrame,
    step,
    signature: list[Column],
    max_iter: int,
    name: str,
) -> DataFrame:
    """Iterate ``state = step(state)`` until its signature repeats.

    Each round checkpoints the new state eagerly (cutting lineage, so
    the plan stays one round deep); the same job yields one row of
    ``signature`` aggregates (``checkpoint_with``). The caller picks a
    signature that moves monotonically until the fixpoint (labels only
    fall, distances only fall, pairs only grow), so an unchanged row proves
    convergence. Raises ``RuntimeError`` naming ``name`` after
    ``max_iter`` rounds without a repeat — never a partial result."""
    prev = None
    for _ in range(max_iter):
        state, cur = checkpoint_with(step(state), *signature)
        if cur == prev:
            return state
        prev = cur
    raise RuntimeError(f"{name} did not converge in {max_iter} rounds")


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected distinct co-purchase edges (pa < pb): two parts are
    linked when some order contains both. The self-join is co-keyed on
    l_orderkey (no shuffle beyond the key repartition); per-order line
    counts are small and bounded, so the pair explosion is ~C(k,2) per
    order, never corpus-quadratic."""
    li = lineitem.select("l_orderkey", "l_partkey")
    return (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
    )


def part_edges(
    spark: SparkSession, sf_dir: str, min_qty: int | None = None
) -> DataFrame:
    """The co-purchase edge list of the lineitem table under ``sf_dir``,
    optionally restricted to lines with ``l_quantity >= min_qty``."""
    li = t(spark, sf_dir, "lineitem")
    if min_qty is not None:
        li = li.filter(F.col("l_quantity") >= min_qty)
    return copurchase_edges(li)


def symmetrize(edges: DataFrame, *extra: Column) -> DataFrame:
    """Both directions ``(u, v, *extra)`` of an undirected
    ``(pa, pb)`` edge list."""
    return edges.select(
        F.col("pa").alias("u"), F.col("pb").alias("v"), *extra
    ).unionAll(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v"), *extra))


def degrees(sym: DataFrame) -> DataFrame:
    """``(node, deg)`` of a symmetrized ``(u, v)`` edge list."""
    return sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )


def hub_source(sym: DataFrame) -> DataFrame:
    """The traversal source: the max-degree node, smallest id on ties,
    as a one-row ``(node)`` frame — empty for an edgeless graph."""
    return degrees(sym).orderBy(F.desc("deg"), "node").limit(1).select("node")


def closed_triangles(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """``(src, v, w)`` once per triangle of an undirected ``(pa < pb)``
    edge list, via DEGREE-ORDERED orientation (the node-iterator++ of
    Schank & Wagner / Cohen's MapReduce formulation): orient each edge
    from its lower-(deg, id) endpoint to the higher one, enumerate
    wedges only at each edge's source, and close them against the
    undirected edge set. Orientation caps out-degree at O(sqrt(m)), so
    the wedge relation — the only super-linear intermediate — is
    sum(outdeg²) = O(m^1.5) worst case instead of sum(deg²), which is
    what makes the plan survive hub nodes at 100 TB."""
    da = deg.select(F.col("node").alias("pa"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("pb"), F.col("deg").alias("deg_b"))
    ranked = edges.join(da, "pa").join(db, "pb")
    # orientation order: (deg, id) — ties broken by id, total order
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("pa") < F.col("pb"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), "src")
        .filter(F.col("e1.dst") < F.col("e2.dst"))
        .select("src", F.col("e1.dst").alias("v"), F.col("e2.dst").alias("w"))
    )
    closing = edges.select(F.col("pa").alias("v"), F.col("pb").alias("w"))
    # semi join on the (min,max)-keyed undirected edge set: each
    # triangle closes exactly once, at its orientation-minimal vertex
    return wedges.join(closing, ["v", "w"], "left_semi")


def capped_wedges(sym: DataFrame, deg: DataFrame) -> DataFrame:
    """``(a, b, deg)`` per wedge a–u–b (a < b) whose center u has
    2 ≤ deg ≤ WEDGE_CENTER_CAP; ``deg`` is the center's degree."""
    centers = deg.filter((F.col("deg") >= 2) & (F.col("deg") <= WEDGE_CENTER_CAP))
    return (
        sym.alias("s1")
        .join(sym.alias("s2"), "u")
        .filter(F.col("s1.v") < F.col("s2.v"))
        .join(centers.select(F.col("node").alias("u"), "deg"), "u")
        .select(F.col("s1.v").alias("a"), F.col("s2.v").alias("b"), "deg")
    )


def _top_predictions(scored: DataFrame, edges: DataFrame, score: str) -> DataFrame:
    """Top-25 UNLINKED pairs of a ``(a, b, common_neighbors, score)``
    relation: the anti-join against the edge list makes the score a
    prediction, not a description."""
    unlinked = scored.join(
        edges,
        (scored["a"] == edges["pa"]) & (scored["b"] == edges["pb"]),
        "left_anti",
    )
    return (
        unlinked.select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "common_neighbors",
            score,
        )
        .orderBy(F.col(score).desc(), "node_a", "node_b")
        .limit(25)
    )


def _deg_sql(sym: str = "sym") -> str:
    return (
        f"deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg"
        f" FROM {sym} GROUP BY u)"
    )


def _edges_cte(min_qty: int | None = None) -> str:
    """Oracle CTEs ``e`` (distinct pa < pb), ``sym`` (u, v) and ``deg``
    (node, deg) of the co-purchase graph; ``min_qty`` keeps only lines
    with ``l_quantity >= min_qty`` on both ends."""
    where = (
        ""
        if min_qty is None
        else f"\n        WHERE a.l_quantity >= {min_qty} AND b.l_quantity >= {min_qty}"
    )
    return f"""
    e AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey{where}
    ),
    sym AS (
        SELECT pa AS u, pb AS v FROM e
        UNION ALL
        SELECT pb AS u, pa AS v FROM e
    ),
    {_deg_sql()}
"""


#: Oracle twin of ``hub_source``: CTE ``src(s)`` over ``deg``.
_HUB_SQL = "src AS (SELECT node AS s FROM deg ORDER BY deg DESC, node LIMIT 1)"

#: Oracle twin of ``capped_wedges``: CTE ``wedges(a, b, deg)``.
_WEDGES_SQL = f"""
    wedges AS (
        SELECT s1.v AS a, s2.v AS b, c.deg
        FROM sym s1
        JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
        JOIN deg c ON c.node = s1.u
        WHERE c.deg BETWEEN 2 AND {WEDGE_CENTER_CAP}
    )
"""


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id_col, cluster_id) for every node, where cluster_id is the
    smallest node id reachable through `pairs`. Singletons keep their
    own id.

    Min-label propagation WITH pointer doubling: each round every node
    takes the min of its own and its neighbors' labels, then
    compresses through its current label (label <- label-of-label).
    Propagation alone moves the min one hop per round (O(diameter)
    rounds — a 300-doc near-dup chain would blow max_iter);
    compression halves the remaining label-chain length, so
    convergence is O(log n), the bound the large-star/small-star
    formulation gives. Labels only fall, so an unchanged label sum is
    the fixpoint; raises if `max_iter` rounds don't reach it."""
    half = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
        )
        lbl2 = labels.select(
            F.col("id").alias("l_id"), F.col("label").alias("l_label")
        )
        return labels.join(lbl2, labels["label"] == lbl2["l_id"], "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("l_label", "label")).alias("label"),
        )

    labels = fixpoint(
        nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label")),
        step,
        [F.sum("label")],
        max_iter,
        "connected_components",
    )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Census and cohesion: triangles, clustering coefficient, degrees
# ---------------------------------------------------------------------------


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected ``(pa < pb)`` graph
    (triangles by ``closed_triangles``). Returns one row:
    (n_nodes, n_edges, n_wedges, n_triangles, gcc_ppm); gcc_ppm is
    NULL when the graph has no wedge."""
    deg = degrees(symmetrize(edges))
    n_tri = closed_triangles(edges, deg).count()
    totals = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long").alias("n_wedges"),
    ).crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
    return totals.select(
        "n_nodes",
        F.col("n_edges").cast("long").alias("n_edges"),
        "n_wedges",
        F.lit(n_tri).cast("long").alias("n_triangles"),
        F.call_function(
            "div",
            F.lit(3 * n_tri * 1_000_000).cast("long"),
            F.nullif(F.col("n_wedges"), F.lit(0)),
        ).alias("gcc_ppm"),
    )


@register(
    "g_triangle_count",
    oracle=f"""
    WITH {_edges_cte()},
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.pa = e1.pb
        JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg)       AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e)         AS n_edges,
           (SELECT CAST(SUM(deg * (deg - 1)) AS BIGINT) // 2 FROM deg) AS n_wedges,
           CAST(n_triangles AS BIGINT)                      AS n_triangles,
           -- BIGINT // BIGINT: exact floor (a DOUBLE divisor can land
           -- within 1 ulp of an integer)
           CAST((3 * n_triangles * 1000000)
                // (SELECT CAST(SUM(deg * (deg - 1)) AS BIGINT) // 2 FROM deg)
                AS BIGINT) AS gcc_ppm
    FROM tri
    """,
    survey_ids=("J3", "A2"),
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the part
    co-purchase graph (market-basket structure: how cliquish are
    baskets). The oracle closes triangles with the naive a<b<c 3-way
    self-join; the engine uses degree-ordered orientation — hash
    equality proves the oriented enumeration exact, triangle for
    triangle."""
    return triangle_stats(part_edges(spark, sf_dir))


@register(
    "g_clustering_coefficient",
    oracle=f"""
    WITH {_edges_cte()},
    tri AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS tri
        FROM (
            SELECT UNNEST([e1.pa, e1.pb, e2.pb]) AS u
            FROM e e1
            JOIN e e2 ON e2.pa = e1.pb
            JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        )
        GROUP BY u
    )
    SELECT d.node, d.deg, COALESCE(t.tri, 0) AS tri,
           CAST((2 * COALESCE(t.tri, 0) * 1000000)
                // (d.deg * (d.deg - 1)) AS BIGINT) AS lcc_e6
    FROM deg d
    LEFT JOIN tri t ON t.u = d.node
    WHERE d.deg >= 3
    ORDER BY lcc_e6 DESC, d.node
    LIMIT 20
    """,
    survey_ids=("J3", "A1", "O4"),
)
def g_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient per node — 2·tri(v)/(deg(v)·
    (deg(v)−1)), the per-node counterpart of `g_triangle_count`'s
    global census: which parts sit inside cliquish co-purchase
    neighborhoods (community seeds) vs hub-and-spoke ones. Triangles
    come from the degree-ordered enumeration (O(m^1.5) worst case,
    hub-safe), and every closed triangle (src, v, w) credits its THREE
    corners via one explode, so the per-node credit relation is
    3·|triangles| rows. Exact integers end to end (e6 via integer
    division); the oracle closes triangles with the naive a<b<c 3-way
    self-join (as `g_triangle_count`'s does) and credits each corner —
    hash equality proves the oriented enumeration exact, corner for
    corner."""
    edges = part_edges(spark, sf_dir)
    deg = degrees(symmetrize(edges))
    corner_credit = closed_triangles(edges, deg).select(
        F.explode(F.array("src", "v", "w")).alias("node")
    )
    tri = corner_credit.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("tri")
    )
    return (
        deg.filter(F.col("deg") >= 3)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"),
        )
        .select(
            "node",
            "deg",
            "tri",
            F.expr("CAST((2 * tri * 1000000) DIV (deg * (deg - 1)) AS LONG)").alias(
                "lcc_e6"
            ),
        )
        .orderBy(F.col("lcc_e6").desc(), "node")
        .limit(20)
    )


@register(
    "g_degree_histogram",
    oracle=f"""
    WITH {_edges_cte()}
    SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg
    GROUP BY deg
    ORDER BY deg
    """,
    survey_ids=("J3", "A1", "O1"),
)
def g_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the first plot
    anyone makes of a graph (is it scale-free? where do the hubs
    start?) and the input that justifies the link-prediction wedge cap
    and the skew toolbox's salting thresholds. Two map-combined
    aggregates; output is bounded by max degree, independent of graph
    size."""
    return (
        degrees(symmetrize(part_edges(spark, sf_dir)))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("deg")
    )


@register(
    "g_degree_assortativity",
    oracle=f"""
    WITH {_edges_cte()},
    pairs AS (
        SELECT da.deg AS x, db.deg AS y
        FROM sym s
        JOIN deg da ON da.node = s.u
        JOIN deg db ON db.node = s.v
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m2,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sx2
        FROM pairs
    )
    SELECT m2, sx, sxy, sx2,
           CAST(FLOOR(
               1000000.0 * (m2 * sxy - sx * sx) / (m2 * sx2 - sx * sx)
           ) AS BIGINT) AS assortativity_e6
    FROM sums
    """,
    survey_ids=("J3", "A2"),
)
def g_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): Pearson correlation of
    endpoint degrees over the directed edge list — do high-degree parts
    co-purchase with other hubs (r>0, social-network-like) or with
    leaves (r<0, technological/hub-spoke)? Because the symmetrized edge
    list makes the x and y marginals identical, the Pearson quotient
    needs NO square root: r = (M·Σxy − Σx·Σy)/(M·Σx² − (Σx)²) with
    Σy = Σx, a ratio of exact BIGINT sums from the ``stats.moments``
    kernel FLOOR-scaled once (the raw sums ship in the row so the e6
    value is auditable). The ratio is NULL when every
    endpoint has the same degree (zero variance, e.g. a single edge).
    One degree aggregate + two node-keyed joins + one global sum —
    nothing wider than the edge list ever shuffles."""
    sym = symmetrize(part_edges(spark, sf_dir))
    deg = degrees(sym)
    pairs = (
        sym.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("x")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("y")), "v")
        .select("x", "y")
    )
    return moments(pairs, ["x", "y"], "long").select(
        F.col("n").alias("m2"),
        F.col("s_x").alias("sx"),
        F.col("s_x_y").alias("sxy"),
        F.col("s_x_x").alias("sx2"),
        F.floor(1000000.0 * comoment("x", "y") / denom(comoment("x", "x")))
        .cast("long")
        .alias("assortativity_e6"),
    )


# ---------------------------------------------------------------------------
# Link prediction
# ---------------------------------------------------------------------------


@register(
    "g_adamic_adar_topk",
    oracle=f"""
    WITH {_edges_cte()},
    {_WEDGES_SQL},
    scored AS (
        SELECT a, b,
               CAST(SUM(CAST(FLOOR(1000000000.0 / LN(deg)) AS BIGINT))
                    AS BIGINT) AS aa_e9,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors
        FROM wedges
        GROUP BY a, b
    )
    SELECT s.a AS node_a, s.b AS node_b, s.common_neighbors, s.aa_e9
    FROM scored s
    LEFT JOIN e ON e.pa = s.a AND e.pb = s.b
    WHERE e.pa IS NULL
    ORDER BY s.aa_e9 DESC, s.a, s.b
    LIMIT 25
    """,
    survey_ids=("J3", "J5", "A1", "O4"),
)
def g_adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction: for UNLINKED part pairs, score
    sum over common neighbors u of 1/ln(deg u) — rare shared neighbors
    count more — and emit the top-25 predicted edges. Wedges come from
    the hub-capped enumeration (``capped_wedges``). Per-term e9 floor
    BEFORE the sum keeps the aggregate integer-exact under any
    summation order."""
    edges = part_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = symmetrize(edges)
    scored = (
        capped_wedges(sym, degrees(sym))
        .groupBy("a", "b")
        .agg(
            F.sum(F.floor(1000000000.0 / F.log(F.col("deg"))).cast("long"))
            .cast("long")
            .alias("aa_e9"),
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        )
    )
    return _top_predictions(scored, edges, "aa_e9")


@register(
    "g_jaccard_link_prediction",
    oracle=f"""
    WITH {_edges_cte()},
    {_WEDGES_SQL},
    common AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cn
        FROM wedges GROUP BY a, b
    ),
    scored AS (
        SELECT c.a, c.b, c.cn,
               CAST(FLOOR(c.cn * 1000000.0 / (da.deg + db.deg - c.cn))
                    AS BIGINT) AS jaccard_e6
        FROM common c
        JOIN deg da ON da.node = c.a
        JOIN deg db ON db.node = c.b
    )
    SELECT s.a AS node_a, s.b AS node_b, s.cn AS common_neighbors,
           s.jaccard_e6
    FROM scored s
    LEFT JOIN e ON e.pa = s.a AND e.pb = s.b
    WHERE e.pa IS NULL
    ORDER BY s.jaccard_e6 DESC, s.a, s.b
    LIMIT 25
    """,
    survey_ids=("J3", "J5", "A1", "O4"),
)
def g_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction over the part co-purchase
    graph: for unlinked pairs, |N(a)∩N(b)| / |N(a)∪N(b)| with the
    union expanded as deg(a)+deg(b)−common (no set materialization).
    Common neighbors come from the same hub-capped wedge enumeration
    as Adamic-Adar (the semantic is "hub-capped Jaccard"). Score is a
    FLOOR-scaled ratio of exact integers."""
    edges = part_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = symmetrize(edges)
    deg = degrees(sym)
    cn = F.col("common_neighbors")
    scored = (
        capped_wedges(sym, deg)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
        .join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            F.floor(cn * 1_000_000.0 / (F.col("da") + F.col("db") - cn))
            .cast("long")
            .alias("jaccard_e6"),
        )
    )
    return _top_predictions(scored, edges, "jaccard_e6")


@register(
    "x4_association_rules",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    item AS (SELECT l_partkey, COUNT(*) AS sup FROM op GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS sup_ab
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MINSUP_PAIRS}
    )
    SELECT pa, pb,
           CAST(p.sup_ab AS BIGINT) AS sup_ab,
           CAST(ia.sup AS BIGINT) AS sup_a,
           CAST(ib.sup AS BIGINT) AS sup_b,
           CAST(FLOOR(p.sup_ab * 1000000.0 / ia.sup) AS BIGINT) AS conf_a_to_b_e6,
           CAST(FLOOR(p.sup_ab * 1000000.0 * n.n_orders
                      / (ia.sup * ib.sup)) AS BIGINT) AS lift_e6
    FROM pairs p
    JOIN item ia ON ia.l_partkey = p.pa
    JOIN item ib ON ib.l_partkey = p.pb
    CROSS JOIN n
    ORDER BY pa, pb
    """,
    survey_ids=("X4", "A1", "J3"),
)
def x4_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts: pair
    support ≥ MINSUP_PAIRS with confidence(a→b) and lift in exact
    e6 fixed-point (integer counts through one float division both
    engines compute identically). The A-priori first level — at 100 TB
    the co-keyed per-order pair generation (bounded C(k,2) per basket)
    + map-combined support counting is exactly how FP-growth's
    frequent-pair seed set is mined; item supports broadcast back onto
    the surviving pairs."""
    op = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = op.select("l_orderkey").distinct().count()
    item = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("sup"))
    pairs = (
        op.alias("a")
        .join(op.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("sup_ab"))
        .filter(F.col("sup_ab") >= MINSUP_PAIRS)
    )
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("sup").alias("sup_a"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("sup").alias("sup_b"))
    return (
        pairs.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .select(
            "pa",
            "pb",
            F.col("sup_ab").cast("long").alias("sup_ab"),
            F.col("sup_a").cast("long").alias("sup_a"),
            F.col("sup_b").cast("long").alias("sup_b"),
            F.floor(F.col("sup_ab") * 1_000_000.0 / F.col("sup_a"))
            .cast("long")
            .alias("conf_a_to_b_e6"),
            F.floor(
                F.col("sup_ab") * 1_000_000.0 * n_orders
                / (F.col("sup_a") * F.col("sup_b"))
            )
            .cast("long")
            .alias("lift_e6"),
        )
        .orderBy("pa", "pb")
    )


# ---------------------------------------------------------------------------
# Communities: label propagation, modularity, k-core
# ---------------------------------------------------------------------------


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """(node, community) after ``rounds`` synchronous LPA sweeps.

    Initial label = own id; each sweep every node adopts the most
    frequent label among its neighbors, ties broken by SMALLEST label
    (min-label determinism, as in ``connected_components``).
    The arg-max is the aggregate ``max(struct(c, -label))`` — one
    partial-aggregable reduction per node, no window — so each round is
    exactly two keyed shuffles (neighbor-label count, per-node max),
    each carrying at most one row per (node, distinct neighbor label).
    Every node has degree ≥ 1 by construction (the node set is the edge
    endpoints), so the count relation covers all nodes every round."""
    sym = symmetrize(edges).localCheckpoint(eager=True)
    labels = sym.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").cast("long").alias("label")
    )
    for _ in range(rounds):
        nbr = sym.join(
            labels.select(F.col("node").alias("v"), "label"), "v"
        ).select(F.col("u").alias("node"), "label")
        cnt = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).cast("long").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def _lpa_oracle_ctes(rounds: int = LPA_ROUNDS) -> str:
    """Unrolled-CTE LPA over the co-purchase graph, ending in a CTE
    named ``lab{rounds}`` with columns (node, label)."""
    sql = f"""
    WITH {_edges_cte()},
    lab0 AS (SELECT DISTINCT u AS node, CAST(u AS BIGINT) AS label FROM sym)
    """
    for k in range(1, rounds + 1):
        sql += f""",
    cnt{k} AS (
        SELECT s.u AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM sym s JOIN lab{k - 1} l ON l.node = s.v
        GROUP BY s.u, l.label
    ),
    lab{k} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (
                       PARTITION BY node ORDER BY c DESC, label ASC
                   ) AS rn
            FROM cnt{k}
        ) WHERE rn = 1
    )
    """
    return sql


#: Oracle twin of ``_lpa_partition``, appended to ``_lpa_oracle_ctes()``:
#: ``members`` (community, node) and ``intra`` (one community row per
#: intra-community edge). Materializing them keeps DuckDB from re-running
#: the LPA chain per reference and from joining the two member lists on
#: community before the edge list (a |community|² join at sf0.1).
_LPA_PARTITION_SQL = f"""
    , members AS MATERIALIZED (SELECT label AS community, node FROM lab{LPA_ROUNDS}),
    ea AS MATERIALIZED (
        SELECT e.pb, ma.community FROM e JOIN members ma ON ma.node = e.pa
    ),
    intra AS (
        SELECT ea.community FROM ea JOIN members mb ON mb.node = ea.pb
        WHERE ea.community = mb.community
    )
"""


def _lpa_partition(spark: SparkSession, sf_dir: str):
    """(edges, members, deg, intra) of the LPA partition: the
    checkpointed edge list, (community, node), (node, deg), and one
    ``community`` row per edge whose endpoints share a community."""
    edges = part_edges(spark, sf_dir).localCheckpoint(eager=True)
    members = label_propagation(edges).select(
        F.col("label").alias("community"), "node"
    )
    intra = (
        edges.join(
            members.select(F.col("node").alias("pa"), F.col("community").alias("ca")),
            "pa",
        )
        .join(
            members.select(F.col("node").alias("pb"), F.col("community").alias("cb")),
            "pb",
        )
        .filter(F.col("ca") == F.col("cb"))
        .select(F.col("ca").alias("community"))
    )
    return edges, members, degrees(symmetrize(edges)), intra


@register(
    "g_label_propagation",
    oracle=_lpa_oracle_ctes()
    + f"""
    SELECT node, label AS community FROM lab{LPA_ROUNDS} ORDER BY node
    """,
    survey_ids=("J3", "A1", "U1"),
)
def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the part co-purchase graph. Emits every node's
    community label after LPA_ROUNDS fixed sweeps; min-label tie-break
    makes the sweep schedule the only degree of freedom, and fixing it
    makes the result hash-exact against the unrolled-CTE oracle.
    Scale: each sweep is two keyed shuffles bounded by Σ|distinct
    neighbor labels| ≤ |sym edges|; label state is one long per node;
    localCheckpoint per sweep keeps lineage flat."""
    labels = label_propagation(part_edges(spark, sf_dir))
    return labels.select("node", F.col("label").alias("community")).orderBy(
        "node"
    )


@register(
    "g_community_sizes",
    oracle=_lpa_oracle_ctes()
    + _LPA_PARTITION_SQL
    + """
    , internal AS (
        SELECT community, CAST(COUNT(*) AS BIGINT) AS internal_edges
        FROM intra GROUP BY community
    )
    SELECT m.community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(d.deg) AS BIGINT) AS degree_sum,
           COALESCE(ANY_VALUE(i.internal_edges), 0) AS internal_edges
    FROM members m
    JOIN deg d ON d.node = m.node
    LEFT JOIN internal i ON i.community = m.community
    GROUP BY m.community
    ORDER BY n_members DESC, m.community
    LIMIT 25
    """,
    survey_ids=("J3", "A1", "O4"),
)
def g_community_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 LPA communities by size with their internal edge count
    and degree mass — the summary a curation pipeline reads before
    deciding whether a 'community' is a real product cluster or one
    giant percolated blob (n_members vs internal_edges tells which).
    All integers; the internal-edge count joins the edge list to the
    label map on each endpoint — two broadcast-able joins at fixture
    scale, two co-keyed shuffles at 100 TB."""
    _, members, deg, intra = _lpa_partition(spark, sf_dir)
    internal = intra.groupBy("community").agg(
        F.count(F.lit(1)).cast("long").alias("internal_edges")
    )
    return (
        members.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("deg").cast("long").alias("degree_sum"),
        )
        .join(internal, "community", "left")
        .select(
            "community",
            "n_members",
            "degree_sum",
            F.coalesce(F.col("internal_edges"), F.lit(0))
            .cast("long")
            .alias("internal_edges"),
        )
        .orderBy(F.col("n_members").desc(), "community")
        .limit(25)
    )


@register(
    "g_modularity_lpa",
    oracle=_lpa_oracle_ctes()
    + _LPA_PARTITION_SQL
    + f"""
    , m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS sum_ec FROM intra),
    dc AS (
        SELECT CAST(SUM(dsum * dsum) AS BIGINT) AS sum_dc2
        FROM (
            SELECT mm.community, CAST(SUM(d.deg) AS BIGINT) AS dsum
            FROM members mm JOIN deg d ON d.node = mm.node
            GROUP BY mm.community
        )
    ),
    nc AS (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_communities
           FROM lab{LPA_ROUNDS})
    SELECT m.m AS n_edges, nc.n_communities, ec.sum_ec, dc.sum_dc2,
           CAST(FLOOR(
               1000000.0 * (4.0 * m.m * ec.sum_ec - dc.sum_dc2)
               / (4.0 * m.m * m.m)
           ) AS BIGINT) AS modularity_e6
    FROM m, ec, dc, nc
    """,
    survey_ids=("J3", "A2", "U1"),
)
def g_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA partition, one row — the quality
    score that says whether the propagated communities beat a random
    cut (Q>0). Q = Σ_c(e_c/m − (d_c/2m)²) is carried as the exact
    integer pair (4m·Σe_c − Σd_c², 4m²) and FLOOR-scaled once at the
    end — the double division is the only float op and both engines
    perform the identical (int-exact-to-double) operation, so e6 floors
    agree. (Int64 holds to m ~ 1.5e9 edges; the 100 TB spelling carries
    the two sums as DECIMAL(38,0), same plan.)"""
    edges, members, deg, intra = _lpa_partition(spark, sf_dir)
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    sum_ec = intra.agg(F.count(F.lit(1)).cast("long").alias("sum_ec"))
    sum_dc2 = (
        members.join(deg, "node")
        .groupBy("community")
        .agg(F.sum("deg").cast("long").alias("dsum"))
        .agg(F.sum(F.col("dsum") * F.col("dsum")).cast("long").alias("sum_dc2"))
    )
    n_comm = members.agg(
        F.countDistinct("community").cast("long").alias("n_communities")
    )
    return (
        m.crossJoin(F.broadcast(n_comm))
        .crossJoin(F.broadcast(sum_ec))
        .crossJoin(F.broadcast(sum_dc2))
        .select(
            "n_edges",
            "n_communities",
            "sum_ec",
            "sum_dc2",
            F.floor(
                1000000.0
                * (
                    4.0 * F.col("n_edges") * F.col("sum_ec")
                    - F.col("sum_dc2")
                )
                / (4.0 * F.col("n_edges") * F.col("n_edges"))
            )
            .cast("long")
            .alias("modularity_e6"),
        )
    )


def _kcore_oracle() -> str:
    sql = f"""
    WITH {_edges_cte()},
    s0 AS (SELECT u, v FROM sym)
    """
    prev = "s0"
    for r in range(1, KCORE_ROUNDS + 1):
        sql += f""",
    keep{r} AS MATERIALIZED (
        SELECT u AS node FROM {prev}
        GROUP BY u HAVING COUNT(*) >= {KCORE_K}
    ),
    s{r} AS MATERIALIZED (
        SELECT s.u, s.v FROM {prev} s
        JOIN keep{r} ka ON ka.node = s.u
        JOIN keep{r} kb ON kb.node = s.v
    )
    """
        prev = f"s{r}"
    sql += f"""
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM {prev}
    GROUP BY u
    ORDER BY node
    """
    return sql


@register(
    "g_kcore_membership",
    oracle=_kcore_oracle(),
    survey_ids=("J3", "A1", "A4", "U1"),
)
def g_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership by fixed-round peeling: each round drops
    every node whose CURRENT degree is below k and the edges touching
    it, the standard iterative k-core algorithm with a fixed round
    budget (KCORE_ROUNDS; the fixture reaches the true 3-core fixpoint
    — a round that removes nothing — inside the budget, and the
    unrolled oracle runs the identical schedule either way). Output is
    the surviving nodes with their in-core degree: the dense backbone
    of the co-purchase graph, which is what a recommender mines and a
    sampler must not break. Each peel is one degree aggregate + two
    semi-join-shaped edge filters, all keyed on node — no shuffle
    carries more than the live edge list."""
    sym = symmetrize(part_edges(spark, sf_dir)).localCheckpoint(eager=True)
    for _ in range(KCORE_ROUNDS):
        keep = degrees(sym).filter(F.col("deg") >= KCORE_K)
        sym = (
            sym.join(keep.select(F.col("node").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("node").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return (
        degrees(sym)
        .select("node", F.col("deg").alias("core_deg"))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Exact partitions and distances: WCC, BFS, weighted SSSP
# ---------------------------------------------------------------------------


def _wcc_label_cte() -> str:
    """Unrolled synchronous min-label propagation + pointer doubling:
    the exact SQL twin of ``connected_components``'s per-round
    transformation (propagate: label <- min(own, neighbor labels);
    compress: label <- label-of-label)."""
    steps = ["l0 AS (SELECT DISTINCT u AS id, u AS label FROM sym)"]
    for k in range(1, WCC_ROUNDS + 1):
        steps.append(f"""
    p{k} AS MATERIALIZED (
        SELECT l.id, LEAST(l.label, COALESCE(MIN(lab.label), l.label)) AS label
        FROM l{k - 1} l
        LEFT JOIN sym s ON s.u = l.id
        LEFT JOIN l{k - 1} lab ON lab.id = s.v
        GROUP BY l.id, l.label
    ),
    l{k} AS MATERIALIZED (
        SELECT a.id, LEAST(a.label, COALESCE(b.label, a.label)) AS label
        FROM p{k} a LEFT JOIN p{k} b ON b.id = a.label
    )""")
    return ",".join(steps)


def wcc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_id, component_id) over the high-quantity co-purchase
    graph via ``connected_components``."""
    edges = part_edges(spark, sf_dir, WCC_HIGH_QTY)
    nodes = (
        edges.select(F.col("pa").alias("part_id"))
        .union(edges.select("pb"))
        .distinct()
    )
    cc = connected_components(
        nodes, edges, id_col="part_id", a_col="pa", b_col="pb"
    )
    return cc.select(
        F.col("part_id").cast("long").alias("part_id"),
        F.col("cluster_id").cast("long").alias("component_id"),
    )


@register(
    "g_wcc_components",
    oracle=f"""
    WITH {_edges_cte(WCC_HIGH_QTY)},
    {_wcc_label_cte()}
    SELECT id AS part_id, CAST(label AS BIGINT) AS component_id
    FROM l{WCC_ROUNDS}
    ORDER BY part_id
    """,
    survey_ids=("J3", "A1", "X2"),
)
def g_wcc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weakly-connected components of the high-quantity
    co-purchase graph — the 100 TB WCC spelling: min-label propagation
    WITH pointer doubling (``connected_components``). Each round is two
    narrow keyed joins + one groupBy, shuffling one row per (node,
    neighbor-label); convergence is O(log n) rounds even on the giant
    component's longest induced path. At the label-sum fixpoint every
    node's label is ≤ all neighbors', so labels are constant per
    component = min reachable id: the true WCC. The oracle runs the
    identical schedule unrolled WCC_ROUNDS rounds; LPA approximates
    communities, this is the exact partition."""
    return wcc_components(spark, sf_dir).orderBy("part_id")


@register(
    "g_wcc_size_histogram",
    oracle=f"""
    WITH {_edges_cte(WCC_HIGH_QTY)},
    {_wcc_label_cte()},
    sizes AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS component_size
        FROM l{WCC_ROUNDS} GROUP BY label
    )
    SELECT component_size, CAST(COUNT(*) AS BIGINT) AS n_components
    FROM sizes
    GROUP BY component_size
    ORDER BY component_size
    """,
    survey_ids=("J3", "A1"),
)
def g_wcc_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram of the exact WCC partition — the
    one-line diagnostic that tells a dedup/graph pipeline whether its
    graph is 'one giant hairball' (threshold too loose) or healthy
    (giant component + power-law tail). Two map-combined groupBys over
    the component assignment; at 100 TB both shuffles carry one row
    per component then one per distinct size."""
    cc = wcc_components(spark, sf_dir)
    return (
        cc.groupBy("component_id")
        .agg(F.count(F.lit(1)).cast("long").alias("component_size"))
        .groupBy("component_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
        .orderBy("component_size")
    )


def _bfs_cte() -> str:
    steps = [
        f"""
    {_HUB_SQL},
    d0 AS (SELECT s AS id, CAST(0 AS BIGINT) AS dist FROM src)"""
    ]
    for k in range(1, BFS_ROUNDS + 1):
        steps.append(f"""
    d{k} AS MATERIALIZED (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM d{k - 1}
            UNION ALL
            SELECT s.u AS id, d.dist + 1 AS dist
            FROM d{k - 1} d JOIN sym s ON s.v = d.id
        ) GROUP BY id
    )""")
    return ",".join(steps)


@register(
    "g_bfs_hop_histogram",
    oracle=f"""
    WITH {_edges_cte(WCC_HIGH_QTY)},
    {_bfs_cte()},
    nodes AS (SELECT DISTINCT u AS id FROM sym)
    SELECT d.dist AS hops, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM nodes n LEFT JOIN d{BFS_ROUNDS} d ON d.id = n.id
    GROUP BY d.dist
    ORDER BY hops NULLS LAST
    """,
    survey_ids=("J3", "A1"),
)
def g_bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact single-source BFS over the high-quantity co-purchase
    graph: hop distance from the hub part (``hub_source``) to every
    part, summarized as a hop histogram; parts outside the hub's
    component report NULL hops — the same thresholded graph as
    `g_wcc_components`, so the two queries cross-validate (NULL count
    = non-giant component mass). An edgeless graph has no hub and an
    empty histogram.

    The distributed spelling is frontier expansion as an aggregate
    join — each round joins the current distance relation to the edge
    list and takes per-node MIN(dist) over old ∪ propagated — run to a
    proven ``fixpoint`` (row count and dist sum both stable; distances
    only ever decrease). Rounds = eccentricity, each shuffling at most
    one row per (node, incoming distance) — the Pregel iteration
    spelled in two keyed shuffles. The oracle unrolls the identical
    schedule BFS_ROUNDS rounds."""
    sym = symmetrize(part_edges(spark, sf_dir, WCC_HIGH_QTY)).localCheckpoint(
        eager=True
    )

    def step(dist: DataFrame) -> DataFrame:
        cand = sym.join(
            dist.select(F.col("id").alias("v"), "dist"), "v"
        ).select(F.col("u").alias("id"), (F.col("dist") + 1).alias("dist"))
        return dist.unionByName(cand).groupBy("id").agg(F.min("dist").alias("dist"))

    dist = fixpoint(
        hub_source(sym).select(
            F.col("node").alias("id"), F.lit(0).cast("long").alias("dist")
        ),
        step,
        [F.count(F.lit(1)), F.sum("dist")],
        BFS_ROUNDS + 6,
        "g_bfs_hop_histogram",
    )
    nodes = sym.select(F.col("u").alias("id")).distinct()
    return (
        nodes.join(dist, "id", "left")
        .groupBy(F.col("dist").alias("hops"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .orderBy(F.col("hops").asc_nulls_last())
    )


def sssp_copurchase_edges(li: DataFrame) -> DataFrame:
    """Hub-capped weighted co-purchase edge list (pa, pb, cnt) for the
    weighted SSSP: distinct (order, part) pairs, baskets above
    SSSP_BASKET_CAP distinct items excluded, then the within-basket
    pair join; ``cnt`` counts the orders holding both parts. The cap
    filter is an aggregate on the same key the pair join shuffles on,
    so it rides the existing exchange."""
    tri = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("pk"),
    ).distinct()
    okb = (
        tri.groupBy("ok")
        .agg(F.count(F.lit(1)).cast("long").alias("nk"))
        .filter(F.col("nk") <= SSSP_BASKET_CAP)
        .select("ok")
    )
    capped = tri.join(okb, "ok")
    a = capped.select("ok", F.col("pk").alias("pa"))
    b = capped.select("ok", F.col("pk").alias("pb"))
    return (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select("ok", "pa", "pb")
        .distinct()
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _sssp_oracle() -> str:
    steps = []
    for k in range(1, SSSP_ROUNDS + 1):
        steps.append(f"""
    d{k} AS MATERIALIZED (
        SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d{k - 1}
            UNION ALL
            SELECT w.v AS node, d.dist + w.cost_e6
            FROM d{k - 1} d JOIN wsym w ON w.u = d.node
        ) GROUP BY node
    )""")
    return f"""
    WITH okb AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING COUNT(DISTINCT l_partkey) <= {SSSP_BASKET_CAP}
    ),
    ew AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS cnt
        FROM lineitem a
        JOIN okb USING (l_orderkey)
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ),
    wsym AS (
        SELECT pa AS u, pb AS v, 1000000 // cnt AS cost_e6 FROM ew
        UNION ALL
        SELECT pb AS u, pa AS v, 1000000 // cnt AS cost_e6 FROM ew
    ),
    {_deg_sql("wsym")},
    {_HUB_SQL},
    d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src),
    {",".join(steps)}
    SELECT dist // {SSSP_BUCKET_E6} AS dist_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(dist) AS BIGINT) AS min_dist_e6,
           CAST(MAX(dist) AS BIGINT) AS max_dist_e6
    FROM d{SSSP_ROUNDS}
    GROUP BY dist_bucket ORDER BY dist_bucket
    """


@register(
    "g_sssp_weighted",
    oracle=_sssp_oracle(),
    survey_ids=("J3", "A1", "U1", "X4"),
)
def g_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (Bellman–Ford, 4 unrolled
    rounds) from the weighted co-purchase graph's hub
    (``hub_source``), edge cost ``10⁶ // copurchase_count`` —
    frequently co-bought parts are "close". Output is the
    distance-bucket histogram (bucket width 0.25 in e6 cost units) with
    per-bucket min/max — node-count bounded at ~max_dist/bucket rows,
    never a per-node fetch.

    Scale: each round is one aggregate-join (frontier ⋈ edges →
    min-combine with the standing distances) — the relational
    Bellman–Ford; per-round localCheckpoint cuts plan growth. Edge
    costs are exact integers (floor of the reciprocal count), the
    min() fold is order-free, and rounds are a fixed unroll matching
    the oracle's CTE chain."""
    ew = sssp_copurchase_edges(t(spark, sf_dir, "lineitem"))
    wsym = symmetrize(
        ew, F.call_function("div", F.lit(1_000_000), F.col("cnt")).alias("cost_e6")
    ).localCheckpoint(eager=True)
    d = (
        hub_source(wsym)
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    for _ in range(SSSP_ROUNDS):
        relaxed = d.join(
            wsym, d["node"] == wsym["u"]
        ).select(
            F.col("v").alias("node"),
            (F.col("dist") + F.col("cost_e6")).alias("dist"),
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return (
        d.groupBy(
            F.call_function("div", "dist", F.lit(SSSP_BUCKET_E6)).alias("dist_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("dist").cast("long").alias("min_dist_e6"),
            F.max("dist").cast("long").alias("max_dist_e6"),
        )
        .orderBy("dist_bucket")
    )


# ---------------------------------------------------------------------------
# Centrality: personalized PageRank, HITS
# ---------------------------------------------------------------------------


def _ppr_oracle() -> str:
    steps = []
    for k in range(1, PPR_ROUNDS + 1):
        steps.append(f"""
    r{k} AS MATERIALIZED (
        SELECT n.id,
               COALESCE(m.mass, 0)
                 + CASE WHEN n.id = (SELECT s FROM src)
                        THEN (CAST({PPR_ALPHA_DEN - PPR_ALPHA_NUM} AS BIGINT)
                              * {PPR_SCALE}) // {PPR_ALPHA_DEN}
                        ELSE 0 END AS score
        FROM nodes n
        LEFT JOIN (
            SELECT s.v AS id,
                   CAST(SUM((r.score * {PPR_ALPHA_NUM}) // (d.deg * {PPR_ALPHA_DEN}))
                        AS BIGINT) AS mass
            FROM r{k - 1} r
            JOIN sym s ON s.u = r.id
            JOIN deg d ON d.node = r.id
            GROUP BY s.v
        ) m ON m.id = n.id
    )""")
    return f"""
    WITH {_edges_cte()},
    {_HUB_SQL},
    nodes AS (SELECT DISTINCT u AS id FROM sym),
    r0 AS (
        SELECT id, CASE WHEN id = (SELECT s FROM src)
                        THEN CAST({PPR_SCALE} AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS score
        FROM nodes
    ),
    {",".join(steps)}
    SELECT CAST(id AS BIGINT) AS part_id, CAST(score AS BIGINT) AS ppr_e9
    FROM r{PPR_ROUNDS}
    WHERE score > 0
    ORDER BY ppr_e9 DESC, part_id
    LIMIT 20
    """


@register(
    "g_personalized_pagerank",
    oracle=_ppr_oracle(),
    survey_ids=("J3", "A1", "O4", "X4"),
)
def g_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the co-purchase hub part
    (``hub_source``; teleport mass returns to THE SOURCE, not
    uniformly — the 'parts related to this part' similarity RecSys
    serves, vs `g_pagerank_tree`'s global variant). Three synchronous
    power-iteration rounds in exact e9 fixed point: per-edge
    contribution ``(r·85) // (deg·100)`` (floor once per edge —
    deterministic mass leak, identical in the oracle), teleport
    ``0.15·SCALE`` re-injected at the source each round. Top-20
    reachable parts by score; an edgeless graph has no source and no
    rows.

    Scale: each round is one aggregate-join (rank relation ⋈ edges ⋈
    degrees, map-combined per-target sum) + the |nodes|-keyed teleport
    left join; per-round localCheckpoint. Scores total ≤ SCALE so
    int64 carries every product (r·85 ≤ 8.5e10)."""
    sym = symmetrize(part_edges(spark, sf_dir)).localCheckpoint(eager=True)
    deg = degrees(sym)
    hub = hub_source(sym).first()
    is_src = F.col("id") == (hub["node"] if hub else None)
    nodes = sym.select(F.col("u").alias("id")).distinct().localCheckpoint(
        eager=True
    )
    teleport = ((PPR_ALPHA_DEN - PPR_ALPHA_NUM) * PPR_SCALE) // PPR_ALPHA_DEN
    r = nodes.select(
        "id",
        F.when(is_src, F.lit(PPR_SCALE)).otherwise(F.lit(0)).cast("long").alias("score"),
    )
    for _ in range(PPR_ROUNDS):
        mass = (
            r.join(sym, r["id"] == sym["u"])
            .join(deg, sym["u"] == deg["node"])
            .select(
                F.col("v").alias("id"),
                F.call_function(
                    "div",
                    F.col("score") * PPR_ALPHA_NUM,
                    F.col("deg") * PPR_ALPHA_DEN,
                ).alias("m"),
            )
            .groupBy("id")
            .agg(F.sum("m").cast("long").alias("mass"))
        )
        r = (
            nodes.join(mass, "id", "left")
            .select(
                "id",
                (
                    F.coalesce("mass", F.lit(0))
                    + F.when(is_src, F.lit(teleport)).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("score"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        r.filter(F.col("score") > 0)
        .orderBy(F.desc("score"), "id")
        .limit(20)
        .select(
            F.col("id").cast("long").alias("part_id"),
            F.col("score").cast("long").alias("ppr_e9"),
        )
    )


_BIP_SQL = """
    bip AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
"""


def _hits_oracle() -> str:
    steps = []
    prev_h = "h0"
    for k in range(1, HITS_ITERS + 1):
        steps.append(f"""
    ar{k} AS (
        SELECT b.p, CAST(SUM(h.score) AS BIGINT) AS raw
        FROM bip b JOIN {prev_h} h ON h.c = b.c GROUP BY b.p
    ),
    a{k} AS MATERIALIZED (
        SELECT p, raw * {HITS_SCALE} // (SELECT SUM(raw) FROM ar{k}) AS score
        FROM ar{k}
    ),
    hr{k} AS (
        SELECT b.c, CAST(SUM(a.score) AS BIGINT) AS raw
        FROM bip b JOIN a{k} a ON a.p = b.p GROUP BY b.c
    ),
    h{k} AS MATERIALIZED (
        SELECT c, raw * {HITS_SCALE} // (SELECT SUM(raw) FROM hr{k}) AS score
        FROM hr{k}
    )""")
        prev_h = f"h{k}"
    k = HITS_ITERS
    return f"""
    WITH {_BIP_SQL},
    h0 AS (
        SELECT c, CAST(1 AS BIGINT) AS score
        FROM (SELECT DISTINCT c FROM bip)
    ),
    {",".join(steps)},
    top_a AS (
        SELECT 'authority' AS kind, CAST(p AS BIGINT) AS node_id,
               CAST(score AS BIGINT) AS score_e9,
               ROW_NUMBER() OVER (ORDER BY score DESC, p) AS rnk
        FROM a{k} ORDER BY score DESC, p LIMIT 10
    ),
    top_h AS (
        SELECT 'hub' AS kind, CAST(c AS BIGINT) AS node_id,
               CAST(score AS BIGINT) AS score_e9,
               ROW_NUMBER() OVER (ORDER BY score DESC, c) AS rnk
        FROM h{k} ORDER BY score DESC, c LIMIT 10
    )
    SELECT kind, node_id, score_e9, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT * FROM top_a UNION ALL SELECT * FROM top_h
    )
    ORDER BY kind, rnk
    """


def _hits_normalize(raw: DataFrame, key: str) -> DataFrame:
    """Checkpoint a ``(key, raw)`` score vector and floor-normalize it
    to an L1 total of HITS_SCALE, the total read off the checkpoint's
    job. An empty graph's NULL total leaves its scores NULL, as long."""
    raw, (tot,) = checkpoint_with(raw, F.sum("raw").cast("long"))
    score = F.call_function("div", F.col("raw") * HITS_SCALE, F.lit(tot).cast("long"))
    return raw.select(key, score.alias("score"))


@register(
    "g_hits_bipartite",
    oracle=_hits_oracle(),
    survey_ids=("J2", "A1", "O4", "X4"),
)
def g_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) over the customer→part purchase bipartite
    graph: authorities = parts bought by strong hubs, hubs = customers
    buying strong authorities. 3 synchronous sweeps of a ← Eᵀh, h ← Ea
    with L1 normalization in exact e9 fixed point (floor division by
    the score total — the sqrt-free HITS variant with the same ranking
    fixed point), so the unrolled oracle replays every iteration value
    for value. Output is the top-10 authorities (parts) and top-10
    hubs (customers) with deterministic (score DESC, id) tie order.

    Scale: each half-sweep is ONE keyed aggregate-join — edges join
    the current score vector on its key, partial-aggregate map-side —
    checkpointed as the raw (key, raw) vector, one job that also
    yields the L1 total; the total is inlined into the lazy normalize
    projection, so no half-sweep builds a broadcast of its own total.
    Nothing node-sized ever reaches the driver;
    normalized scores are ≤ SCALE so int64 carries them (the
    pre-normalization sums get DECIMAL(38,0) at 100 TB)."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("c")
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    bip = o.join(li, "ok").select("c", "p").distinct().localCheckpoint(
        eager=True
    )
    h = bip.select("c").distinct().select(
        "c", F.lit(1).cast("long").alias("score")
    )
    raw = F.sum("score").cast("long").alias("raw")
    a = None
    for _ in range(HITS_ITERS):
        a = _hits_normalize(bip.join(h, "c").groupBy("p").agg(raw), "p")
        h = _hits_normalize(bip.join(a, "p").groupBy("c").agg(raw), "c")
    top_a = (
        a.orderBy(F.desc("score"), "p")
        .limit(10)
        .select(
            F.lit("authority").alias("kind"),
            F.col("p").cast("long").alias("node_id"),
            F.col("score").cast("long").alias("score_e9"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("score_e9"), "node_id"))
            .cast("long"),
        )
    )
    top_h = (
        h.orderBy(F.desc("score"), "c")
        .limit(10)
        .select(
            F.lit("hub").alias("kind"),
            F.col("c").cast("long").alias("node_id"),
            F.col("score").cast("long").alias("score_e9"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("score_e9"), "node_id"))
            .cast("long"),
        )
    )
    return top_a.unionByName(top_h).orderBy("kind", "rnk")


# ---------------------------------------------------------------------------
# item-item co-occurrence recommendations
# ---------------------------------------------------------------------------

#: Anchor parts for the item-item serving table (top by basket support).
RECS_ANCHORS = 50
RECS_PER_ITEM = 3


@register(
    "x4_item_item_recs",
    oracle=f"""
    WITH bi AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ),
    support AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n_baskets FROM bi
        GROUP BY item
    ),
    anchors AS (
        SELECT item, n_baskets FROM support
        ORDER BY n_baskets DESC, item LIMIT {RECS_ANCHORS}
    ),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(COUNT(*) AS BIGINT) AS cooc
        FROM bi a JOIN bi b
          ON a.basket = b.basket AND a.item <> b.item
        GROUP BY a.item, b.item
        HAVING COUNT(*) >= 2
    ),
    scored AS (
        SELECT an.item, an.n_baskets, p.item_b AS rec, p.cooc,
               (p.cooc * p.cooc * 1000000) // (an.n_baskets * sb.n_baskets)
                   AS score_e6
        FROM anchors an
        JOIN pairs p ON p.item_a = an.item
        JOIN support sb ON sb.item = p.item_b
    ),
    topk AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY item
                                  ORDER BY score_e6 DESC, cooc DESC, rec)
                   AS rnk
        FROM scored
    )
    SELECT item, n_baskets, rec, cooc, score_e6, CAST(rnk AS BIGINT) AS rnk
    FROM topk WHERE rnk <= {RECS_PER_ITEM}
    ORDER BY item, rnk
    """,
    survey_ids=("X4", "J3", "A1", "W4", "O4"),
)
def x4_item_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering serving table: for each of the
    top-RECS_ANCHORS (50) parts by basket support, the top-3
    co-purchased parts ranked by squared-cosine over baskets —
    ``cooc²·10⁶ // (n_a·n_b)``, the sqrt-free fixed-point monotone of
    cosine similarity, so ranks are exact and the oracle hashes.

    Scale: basket→item pairs are generated per basket (baskets are
    bounded — an order has a handful of parts, so the self-join blowup
    is per-key C(k,2), never corpus²); supports are map-combined; the
    anchor restriction (|anchors| = 50 rows, broadcast semi-join) is
    pushed BELOW the basket self-join — per-pair cooc is unchanged by
    it, so the pair shuffle only ever carries anchor pairs; cooc≥2
    HAVING prunes the tail; top-k per item is one keyed window over
    the already-pruned pair relation."""
    li = t(spark, sf_dir, "lineitem")
    bi = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    support = bi.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    anchors = support.orderBy(F.desc("n_baskets"), "item").limit(RECS_ANCHORS)
    # Anchor pushdown: cooc(item_a, item_b) is computed per pair, so
    # restricting item_a to the 50 anchors BEFORE the basket self-join
    # is semantics-preserving — and shrinks the join's left side from
    # the full corpus to the anchor rows, which is the difference
    # between a corpus-pair shuffle and an anchor-pair one at 100 TB.
    # One broadcast inner join carries n_baskets along (it is a
    # function of item_a, so adding it to the groupBy key is free) —
    # anchors is computed once, not once per use.
    a = bi.select(F.col("basket"), F.col("item").alias("item_a")).join(
        F.broadcast(
            anchors.select(F.col("item").alias("item_a"), "n_baskets")
        ),
        "item_a",
    )
    b = bi.select(F.col("basket"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "basket")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "n_baskets", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cooc"))
        .filter(F.col("cooc") >= 2)
    )
    scored = (
        pairs.join(
            support.select(
                F.col("item").alias("item_b"),
                F.col("n_baskets").alias("nb_b"),
            ),
            "item_b",
        )
        .select(
            F.col("item_a").alias("item"),
            "n_baskets",
            F.col("item_b").alias("rec"),
            "cooc",
            F.expr("(cooc * cooc * 1000000) div (n_baskets * nb_b)").alias(
                "score_e6"
            ),
        )
    )
    w_top = Window.partitionBy("item").orderBy(
        F.desc("score_e6"), F.desc("cooc"), "rec"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_top).cast("long"))
        .filter(F.col("rnk") <= RECS_PER_ITEM)
        .orderBy("item", "rnk")
    )
