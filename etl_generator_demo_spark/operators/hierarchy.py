"""Hierarchy traversal over self-referential FKs — SURVEY.md §2 J-family.

The reference's schemas ground two self-referential FKs
(``sample_metadata.py:99`` employees.manager_id -> employees.id,
``:41`` categories.parent_id -> categories.id); "who reports to whom,
transitively" is the first real query a user of that HR schema runs.
The fixture has no employees table, so the registered queries derive a
deterministic tree over ``customer``: parent(c) = c DIV 10 (NULL when
0), giving 9 roots and depth ~ log10(max custkey) — the same shape at
every SF, closed under the table (every parent id exists).

Both traversals are ITERATIVE pointer-doubling DataFrame loops, not
per-row recursion — O(log depth) rounds, each a narrow join run to a
proven fixpoint by ``graph.fixpoint`` (per-round ``localCheckpoint``,
raise on non-convergence):

- ``ancestor_walk``: (id, root_id, depth) — each round composes the
  current "known ancestor at distance d" with THAT ancestor's state,
  doubling the compressed distance until everyone points at a root.
- ``ancestor_pairs``: the materialized transitive closure
  (id, anc_id, dist >= 1) — P_{k+1} = P_k ∪ (P_k ∘ P_k), the classic
  log-rounds path-doubling construction; on a tree (one parent per
  node) the closure has exactly sum(depth) rows, so the output is
  linear in the input for log-depth hierarchies.

At 100 TB: every round shuffles on the ancestor id only (two long
columns + a small int), never the payload; depth of a corporate
hierarchy or category tree is tens at worst, so rounds ~ 5-6. The
oracle side is DuckDB ``WITH RECURSIVE`` — the exact SQL a warehouse
user would write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.graph import fixpoint
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register


def ancestor_walk(
    nodes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    max_iter: int = 20,
) -> DataFrame:
    """(id, root_id, depth) for every node of a forest given
    (id, parent) rows, parent NULL at roots. Pointer doubling: the
    state row (id, anc, depth) means "anc is my ancestor exactly
    `depth` hops up"; composing with anc's own state doubles the
    compressed distance per round, so convergence is O(log depth).
    Fixpoint = unchanged SUM(depth) (depths only grow, bounded by the
    true depth). Raises after `max_iter` rounds rather than silently
    returning a partial walk. Parents must exist as node ids (a
    dangling FK drops the subtree, exactly like the recursive-CTE
    formulation never reaching it)."""
    state = nodes.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(parent_col), F.col(id_col)).alias("anc"),
        F.when(F.col(parent_col).isNull(), F.lit(0)).otherwise(F.lit(1)).alias("depth"),
    ).localCheckpoint(eager=True)

    def step(state: DataFrame) -> DataFrame:
        hop = state.select(
            F.col("id").alias("h_id"),
            F.col("anc").alias("h_anc"),
            F.col("depth").alias("h_depth"),
        )
        return state.join(hop, state["anc"] == hop["h_id"]).select(
            "id",
            F.col("h_anc").alias("anc"),
            (F.col("depth") + F.col("h_depth")).alias("depth"),
        )

    state = fixpoint(state, step, [F.sum("depth")], max_iter, "ancestor_walk")
    return state.select("id", F.col("anc").alias("root_id"), "depth")


def ancestor_pairs(
    nodes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    max_iter: int = 20,
) -> DataFrame:
    """Materialized transitive closure (id, anc_id, dist >= 1) of a
    forest: every (node, proper ancestor) pair with its hop count.
    Path doubling — P ∪ (P ∘ P) per round — reaches all distances in
    O(log depth) rounds; the distinct() collapses the re-derived
    short paths (pair count is monotone, so an unchanged COUNT is the
    fixpoint)."""
    pairs = (
        nodes.filter(F.col(parent_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(parent_col).alias("anc_id"),
            F.lit(1).alias("dist"),
        )
        .localCheckpoint(eager=True)
    )

    def step(pairs: DataFrame) -> DataFrame:
        up = pairs.select(
            F.col("id").alias("u_id"),
            F.col("anc_id").alias("u_anc"),
            F.col("dist").alias("u_dist"),
        )
        composed = pairs.join(up, pairs["anc_id"] == up["u_id"]).select(
            "id", F.col("u_anc").alias("anc_id"), (F.col("dist") + F.col("u_dist")).alias("dist")
        )
        return pairs.unionByName(composed).distinct()

    return fixpoint(pairs, step, [F.count(F.lit(1))], max_iter, "ancestor_pairs")


def _customer_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic forest over customer: parent = c_custkey DIV 10,
    NULL when DIV yields 0 — custkey 0..9 are the roots (0 would
    otherwise be its own parent: DIV 10 of 0 is 0)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        F.nullif((F.col("c_custkey") / 10).cast("long"), F.lit(0)).alias("parent"),
    )


# ===========================================================================
# Driver-checkable queries
# ===========================================================================

@register(
    "j_hierarchy_depth",
    oracle="""
    WITH RECURSIVE tree AS (
        SELECT c_custkey AS id, c_custkey AS root_id, 0 AS depth
        FROM customer WHERE c_custkey // 10 = 0
        UNION ALL
        SELECT c.c_custkey, tr.root_id, tr.depth + 1
        FROM customer c JOIN tree tr ON c.c_custkey // 10 = tr.id
        WHERE c.c_custkey >= 10  -- custkey 0: 0 // 10 = 0 would self-loop forever
    )
    SELECT id, root_id, depth
    FROM tree
    ORDER BY id
    """,
    survey_ids=("J3", "U1"),
)
def j_hierarchy_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Org-chart depth: every node's root ancestor and level, computed
    by the O(log depth) pointer-doubling walk vs the warehouse-native
    recursive CTE. Grounding: sample_metadata.py:99 manager chains."""
    return ancestor_walk(_customer_tree(spark, sf_dir)).orderBy("id")


@register(
    "j_hierarchy_ancestors",
    oracle="""
    WITH RECURSIVE anc AS (
        SELECT c_custkey AS id, c_custkey // 10 AS anc_id, 1 AS dist
        FROM customer WHERE c_custkey // 10 >= 1
        UNION ALL
        SELECT a.id, c.c_custkey // 10, a.dist + 1
        FROM anc a JOIN customer c ON c.c_custkey = a.anc_id
        WHERE c.c_custkey // 10 >= 1
    )
    SELECT id, anc_id, dist
    FROM anc
    ORDER BY id, dist
    """,
    survey_ids=("J3", "U1"),
)
def j_hierarchy_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive "reports-to" closure: every (node, proper ancestor,
    hop count) pair — the materialized form a warehouse keeps for
    subtree filters (`WHERE anc_id = X` selects X's whole org). Path
    doubling vs recursive CTE."""
    return ancestor_pairs(_customer_tree(spark, sf_dir)).orderBy("id", "dist")


PAGERANK_ITERS, PAGERANK_DAMPING = 3, 0.85


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank SQL: each iteration is one
    CTE (no recursive aggregate needed). Edges: child -> parent,
    out-degree 1; root (dangling) mass is NOT redistributed — the
    'lossy' PageRank variant, identical on both engines.

    Ranks are EXACT BIGINTs in units of rank·n/20³ (d = 0.85 = 17/20,
    so after k ≤ 3 iterations every value is an integer multiple of
    20^(3-k) in that scale — each `(17·Σchild) // 20` divides exactly;
    proof in g_pagerank_tree's docstring). A float spelling floored at
    an e6 boundary can land within 1 ulp of it and flip between
    engines on summation order."""
    iters = PAGERANK_ITERS
    sql = """
    WITH nodes AS (
        SELECT c_custkey AS id,
               CASE WHEN c_custkey // 10 = 0 THEN NULL
                    ELSE c_custkey // 10 END AS parent
        FROM customer
    ),
    r0 AS (SELECT id, parent, CAST(8000 AS BIGINT) AS r FROM nodes)
    """
    prev = "r0"
    for k in range(1, iters + 1):
        sql += f""",
    r{k} AS (
        SELECT cur.id, cur.parent,
               CAST(1200 + (17 * COALESCE(SUM(child.r), 0)) // 20
                    AS BIGINT) AS r
        FROM {prev} cur
        LEFT JOIN {prev} child ON child.parent = cur.id
        GROUP BY cur.id, cur.parent
    )
    """
        prev = f"r{k}"
    sql += f"""
    SELECT id,
           CAST(r * 125 AS DOUBLE) / 1000000 AS rank_scaled
    FROM {prev}
    ORDER BY id
    """
    return sql


@register("g_pagerank_tree", oracle=_pagerank_oracle(), survey_ids=("J3", "U1"))
def g_pagerank_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 rounds, d=0.85) over the customer
    tree — the iterative numeric-fixpoint shape (contrast the boolean
    fixpoints of connected components / ancestor walk). Each round is
    ONE aggregate-join on the parent key: contributions group by
    target BEFORE joining rank state, so the shuffle carries one row
    per node, and ``localCheckpoint`` cuts lineage per round exactly
    like the other iterative operators. Root (dangling) mass is not
    redistributed — the lossy variant, mirrored exactly by the
    unrolled-CTE oracle; ranks are reported scaled by N (≈1.0).

    Ranks are EXACT BIGINTs in units of rank·n/20³. With
    d = 0.85 = 17/20 the update is R_k = 1200 + (17·Σ_child R_{k-1})/20
    (1200 = 0.15·20³), and induction gives R_k ≡ 0 (mod 20^(3-k)):
    R₀ = 20³, a sum of multiples of 20^(4-k) divided by 20 is a
    multiple of 20^(3-k), and 1200 = 3·20² is one too. So every
    `(17·Σ) DIV 20` divides with remainder 0 for the 3 configured
    iterations — no float exists anywhere until the final division of
    the integer R·125 by 10⁶, which both engines perform on identical
    integers. Summation-order drift is impossible by construction,
    for ANY fixture seed."""
    nodes = _customer_tree(spark, sf_dir).localCheckpoint(eager=True)
    ranks = nodes.withColumn("r", F.lit(8000).cast("long"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            ranks.filter(F.col("parent").isNotNull())
            .groupBy("parent")
            .agg(F.sum("r").alias("child_mass"))
            .select(F.col("parent").alias("_target"), "child_mass")
        )
        ranks = (
            ranks.join(contrib, ranks["id"] == contrib["_target"], "left")
            .select(
                "id",
                "parent",
                F.expr(
                    "CAST(1200 + (17 * COALESCE(child_mass, 0L)) DIV 20 AS BIGINT)"
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "id",
        ((F.col("r") * 125).cast("double") / 1_000_000).alias("rank_scaled"),
    ).orderBy("id")


# ---------------------------------------------------------------------------
# Native recursive CTE through the SQL front door (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------
_RECURSIVE_TREE_SQL = """
    WITH RECURSIVE tree AS (
        SELECT c_custkey AS id, c_custkey AS root_id, CAST(0 AS BIGINT) AS depth
        FROM customer WHERE c_custkey {div} 10 = 0
        UNION ALL
        SELECT c.c_custkey, tr.root_id, tr.depth + 1
        FROM customer c JOIN tree tr ON c.c_custkey {div} 10 = tr.id
        WHERE c.c_custkey >= 10
    )
    SELECT id, root_id, depth
    FROM tree
    ORDER BY id
    """


@register(
    "u_recursive_cte_depth",
    oracle=_RECURSIVE_TREE_SQL.format(div="//"),
    survey_ids=("U1", "J3"),
)
def u_recursive_cte_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-user spelling of the org-chart walk: Spark 4's native
    ``WITH RECURSIVE`` (recursive CTEs landed in 4.0), the SAME query
    text DuckDB runs modulo the integer-division operator (Spark
    ``DIV`` / DuckDB ``//``). This is the third tier of the hierarchy
    family: `j_hierarchy_depth` (pointer doubling, O(log depth)
    rounds, the 100 TB shape), its transitive-closure sibling, and now
    the front-door recursive form a warehouse user types directly.
    Scale note: Spark executes WITH RECURSIVE as iterated union steps
    — one distributed join PER LEVEL (O(depth) rounds), so on deep
    hierarchies the pointer-doubling operator remains the engine's
    recommended tier; this query exists because the SQL surface must
    accept the standard spelling."""
    from etl_generator_demo_spark.catalog import Catalog

    Catalog(spark, sf_dir).register_views(("customer",))
    return spark.sql(_RECURSIVE_TREE_SQL.format(div="DIV"))
