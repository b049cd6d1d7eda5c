"""Vector similarity search — SURVEY.md §2.12 X3 ([EXT]).

Three operators over ``embeddings.embedding`` (array<float>, 64-dim):

- brute-force cosine top-k: the correctness baseline. Pure SQL-function
  plan (zip_with + aggregate fold) — JVM-side, no UDF, one scan, no
  shuffle except the final top-k (TakeOrderedAndProject).
- all-pairs near-dup: inverted over a self-join with AQE handling the
  quadratic blow-up; the exact tier — at 100 TB you run it per LSH
  bucket, never globally.
- ANN via random-hyperplane LSH (multi-table OR-construction): the
  scale path. Deterministic md5-derived hyperplanes make it
  reproducible across runs/engines; candidates = union over L tables
  of same-bucket vectors, then exact cosine re-rank. Tables/planes are
  tunable: more planes -> smaller buckets (faster, lower recall); more
  tables -> higher recall (linear cost).

Float parity: cosines are floor-scaled to 1e-6 before comparison with
the DuckDB oracle — both engines compute IEEE doubles but may sum in
different orders (1-ulp differences); floor at 1e-6 absorbs that
without the half-way ambiguity ROUND has.
"""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.catalog import read_parquet_known
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register

DIM = 64

# Expression-tree memos (r17, guide §1.2 "per-task work" applied to the
# DRIVER): each higher-order function below (`transform`/`zip_with`/
# `aggregate` with a Python lambda) costs ~20 py4j round trips to build,
# and the bench re-builds every query's DataFrame per timed run. Column
# expression trees are immutable values — reusing one object across
# plans is exactly like reusing `F.col("x")` — so the *named-column*
# spellings are built once per process and served from an lru_cache.
# The cached tree is constructed by the very same code as the uncached
# path, so plans and results are bit-identical by construction. Memos
# hold METADATA (unresolved expressions), never data or results.


def _as_double(col: str | Column) -> Column:
    if isinstance(col, str):
        return _as_double_named(col)
    return F.transform(col, lambda x: x.cast("double"))


@lru_cache(maxsize=None)
def _as_double_named(name: str) -> Column:
    return F.transform(F.col(name), lambda x: x.cast("double"))


def _dot(a: Column | str, b: Column | str) -> Column:
    """Sequential fold dot product — deterministic element order."""
    if isinstance(a, str) and isinstance(b, str):
        return _dot_named(a, b)
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


@lru_cache(maxsize=None)
def _dot_named(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return _norm_named(a)
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


@lru_cache(maxsize=None)
def _norm_named(name: str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(name), lambda x: x * x),
            F.lit(0.0),
            lambda s, v: s + v,
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    # try_divide: a zero-norm vector yields NULL instead of failing the
    # whole job under ANSI mode (Spark 4 default).
    if isinstance(a, str) and isinstance(b, str):
        return _cosine_named(a, b)
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


@lru_cache(maxsize=None)
def _cosine_named(a: str, b: str) -> Column:
    return F.try_divide(_dot_named(a, b), _norm_named(a) * _norm_named(b))


def lit_double_array(values) -> Column:
    """Literal array<double> column in ONE round trip (`F.expr` text)
    instead of one `F.lit` call per element (64+ round trips for an
    embedding-sized vector). Python ``repr`` emits the shortest string
    that round-trips the IEEE double, and Spark's ``<text>D`` literal
    parses via Double.parseDouble (correctly rounded), so the values
    are bit-identical to ``F.array(*[F.lit(float(x)) ...])`` —
    verified elementwise in tests. Cached per value tuple: repeat
    builds of the same query vector cost zero round trips."""
    return _lit_double_array(tuple(float(x) for x in values))


def _double_sql(v: float) -> str:
    """SQL text for one double: ``<repr>D`` when finite; NaN and the
    infinities have no literal form (``nanD`` does not parse), so they
    are spelled as casts from their string names."""
    if math.isfinite(v):
        return f"{v!r}D"
    name = "NaN" if v != v else ("-Infinity" if v < 0 else "Infinity")
    return f"CAST('{name}' AS DOUBLE)"


@lru_cache(maxsize=512)
def _lit_double_array(values: tuple) -> Column:
    return F.expr("array(" + ", ".join(map(_double_sql, values)) + ")")


@lru_cache(maxsize=512)
def _cosine_lit(name: str, values: tuple) -> Column:
    """Memoized ``cosine(_as_double(name), <literal vector>)`` — the
    scoring expression every literal-query ANN/brute-force path builds."""
    return cosine(_as_double_named(name), _lit_double_array(values))


def cosine_lit(name: str, values) -> Column:
    return _cosine_lit(name, tuple(float(x) for x in values))


@lru_cache(maxsize=None)
def cosine_asdouble_cols(a: str, b: str) -> Column:
    """Memoized ``cosine(_as_double(a), F.col(b))`` — the batch-probe
    scoring expression (query vectors arrive as a column, corpus side
    needs the float->double transform)."""
    return cosine(_as_double_named(a), F.col(b))


def _floor6(c: Column) -> Column:
    return F.floor(c * 1_000_000) / 1_000_000


def brute_force_topk(
    vectors: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. The scan is
    embarrassingly parallel; only k rows ever reach the driver."""
    scored = vectors.withColumn(
        "cosine", _floor6(cosine_lit("embedding", query_vec))
    )
    return scored.orderBy(F.desc("cosine"), id_col).limit(k)


# --- ANN: random-hyperplane LSH, multi-table ------------------------------

def _hyperplane(table: int, plane: int, dim: int = DIM) -> list[float]:
    """Deterministic ±1 hyperplane: component j's sign comes from one
    md5 bit of 't{table}|p{plane}|{j}' — reproducible everywhere."""
    out = []
    for j in range(dim):
        h = hashlib.md5(f"t{table}|p{plane}|{j}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) >= 8 else -1.0)
    return out


def lsh_bucket_expr(vec: Column | str, table: int, planes: int, dim: int = DIM) -> Column:
    """Bucket id = concatenated signs of <vec, plane_p> for each plane.
    A string ``vec`` is a column name and serves the memoized tree."""
    if isinstance(vec, str):
        return _lsh_bucket_expr_named(vec, table, planes, dim)
    bits = []
    for p in range(planes):
        plane = _lit_double_array(tuple(_hyperplane(table, p, dim)))
        bits.append(F.when(_dot(vec, plane) >= 0, "1").otherwise("0"))
    return F.concat(*bits)


@lru_cache(maxsize=None)
def _lsh_bucket_expr_named(name: str, table: int, planes: int, dim: int) -> Column:
    return lsh_bucket_expr(F.col(name), table, planes, dim)


def ann_lsh_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = 4,
    tables: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing the query's
    bucket in ANY of `tables` hash tables; exact cosine re-rank on the
    candidate set. At scale each table's bucket column is precomputed
    and the probe is a pushed-down equality filter — no full scan per
    query. Recall@10 on uniform random data with these defaults is ~0.9;
    raise `tables` for more (cost is linear in tables).

    The bucket test runs as an Arrow-batched mapInPandas numpy matmul:
    tables*planes dot products per row is exactly the kernel
    higher-order-function expressions execute interpreted (not
    codegen), where vectorized BLAS is ~5x faster end-to-end. The
    closure is self-contained (plain-data capture, local numpy import)
    so executor workers need no package import. The re-rank stays a
    JVM expression (oracle-parity floor-scaled cosine).
    """
    import numpy as np

    dim = len(query_vec)
    qv = np.asarray(query_vec, dtype="float64")
    plane_rows = [
        _hyperplane(tbl, p, dim) for tbl in range(tables) for p in range(planes)
    ]  # (tables*planes) x dim
    q_buckets = [
        [bool(np.dot(qv, np.asarray(plane_rows[tbl * planes + p])) >= 0) for p in range(planes)]
        for tbl in range(tables)
    ]

    def bucket_filter(batches):
        import numpy as _np  # self-contained: workers may lack this package

        P = _np.asarray(plane_rows, dtype="float64").T  # dim x (tables*planes)
        QB = _np.asarray(q_buckets, dtype=bool)  # tables x planes
        n_tables, n_planes = QB.shape
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np.stack(pdf["embedding"].to_numpy()).astype("float64")
            S = (V @ P) >= 0  # n x (tables*planes)
            keep = _np.zeros(len(pdf), dtype=bool)
            for tbl in range(n_tables):
                bits = S[:, tbl * n_planes : (tbl + 1) * n_planes]
                keep |= (bits == QB[tbl]).all(axis=1)
            out = pdf[keep]
            if len(out):
                yield out

    candidates = vectors.mapInPandas(bucket_filter, vectors.schema)
    return (
        candidates.withColumn("cosine", _floor6(cosine_lit("embedding", query_vec)))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


# --- ANN: IVF (inverted file via k-means coarse quantizer) ----------------

def build_ivf_index(
    vectors: DataFrame, n_lists: int = 16, id_col: str = "vec_id", seed: int = 42
):
    """Train a k-means coarse quantizer and assign every vector to its
    nearest centroid ("list"). Returns (assigned_df, centroids) where
    assigned_df = vectors + `ivf_list` column.

    At 100 TB the assignment is written once as a partition column;
    queries scan only the probed lists (partition pruning), and the
    quantizer trains on a sample, not the full corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    ml_df = vectors.withColumn("_features", array_to_vector(_as_double("embedding")))
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="_features", predictionCol="ivf_list"
    ).fit(ml_df)
    assigned = model.transform(ml_df).drop("_features")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: rank centroids by distance to the query, scan only
    the `n_probe` nearest lists, exact cosine re-rank on candidates.
    Recall rises with n_probe (n_probe = n_lists -> exact search)."""
    import numpy as np

    q = np.asarray(query_vec, dtype="float64")
    dists = [float(np.linalg.norm(q - np.asarray(c))) for c in centroids]
    probe = sorted(range(len(centroids)), key=lambda i: dists[i])[:n_probe]
    return (
        assigned.filter(F.col("ivf_list").isin(probe))
        .withColumn("cosine", _floor6(cosine_lit("embedding", query_vec)))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


# ===========================================================================
# Driver-checkable queries
# ===========================================================================

@register(
    "x3_cosine_topk",
    oracle="""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
        SELECT vec_id, label,
               FLOOR(LIST_DOT_PRODUCT(embedding::DOUBLE[], qv)
                     / (SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * SQRT(LIST_DOT_PRODUCT(qv, qv))) * 1000000) / 1000000 AS cosine
        FROM embeddings, q
        WHERE vec_id <> 0
    )
    SELECT vec_id, label, cosine
    FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    survey_ids=("X3",),
)
def x3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0."""
    emb = t(spark, sf_dir, "embeddings")
    query_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    return (
        brute_force_topk(emb.filter(F.col("vec_id") != 0), query_vec, k=10)
        .select("vec_id", "label", "cosine")
    )


#: All-pairs exact tier — the TEST-ONLY oracle anchor for the bucketed
#: pipeline below. Deliberately NOT registered: a global O(n²)
#: nested-loop join is the plan you never run corpus-wide at 100 TB;
#: tests/test_oracle_canary.py keeps its DuckDB parity pinned.
ALL_PAIRS_ORACLE = """
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           FLOOR(LIST_DOT_PRODUCT(a.v, c.v)
                 / (SQRT(LIST_DOT_PRODUCT(a.v, a.v))
                    * SQRT(LIST_DOT_PRODUCT(c.v, c.v))) * 1000000) / 1000000 AS cosine
    FROM b a JOIN b c ON a.vec_id < c.vec_id
    WHERE LIST_DOT_PRODUCT(a.v, c.v)
          / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(c.v, c.v))) > 0.4
    ORDER BY vec_a, vec_b
    """


def x3_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4 — the fixture's
    vectors are uniform random, max cosine ~0.51). Exact all-pairs tier,
    test-only: the registered corpus-scale query is
    ``x3_neardup_lsh_bucketed`` (LSH buckets → exact cosine in-bucket)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", _as_double("embedding").alias("v"))
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("raw_cos", cos)
        .filter(F.col("raw_cos") > 0.4)
        .select("vec_a", "vec_b", _floor6(F.col("raw_cos")).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


def _duck_bucket_expr(table: int, planes: int, dim: int = DIM, col: str = "v") -> str:
    """DuckDB bucket expression for one hash table: the same md5-derived
    ±1 hyperplanes as ``lsh_bucket_expr``, inlined as literal lists so
    both engines take sign(<v, plane_p>) over identical constants."""
    cases = []
    for p in range(planes):
        lits = ", ".join(f"{x:.1f}" for x in _hyperplane(table, p, dim))
        cases.append(
            f"(CASE WHEN LIST_DOT_PRODUCT({col}, [{lits}]::DOUBLE[]) >= 0 "
            f"THEN '1' ELSE '0' END)"
        )
    return " || ".join(cases)


def _neardup_bucketed_oracle(tables: int, planes: int) -> str:
    per_table = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {tbl} AS lsh_table, {_duck_bucket_expr(tbl, planes)} AS bucket FROM e"
        for tbl in range(tables)
    )
    cos = (
        "LIST_DOT_PRODUCT(ea.v, eb.v) / (SQRT(LIST_DOT_PRODUCT(ea.v, ea.v))"
        " * SQRT(LIST_DOT_PRODUCT(eb.v, eb.v)))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bk AS (
      {per_table}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bk a JOIN bk b
        ON a.lsh_table = b.lsh_table AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, FLOOR({cos} * 1000000) / 1000000 AS cosine
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
    WHERE {cos} > 0.4
    ORDER BY vec_a, vec_b
    """


NEARDUP_TABLES = 8
NEARDUP_PLANES = 4


BROADCAST_VECTORS_MAX_ROWS = 2_000_000  # ~1 GB of 64-dim doubles


def _embeddings_rows(sf_dir: str, table: str = "embeddings") -> int:
    """Row count from the parquet footer, driver-side — no Spark job
    (the sizing decision must not cost a scan). Falls back to a very
    large number (forcing the shuffle plan, the safe default) when the
    footer isn't readable."""
    import os

    try:
        import glob

        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isdir(path):
            # sum per-file footers: pyarrow's ParquetDataset exposes no
            # count_rows(), and reading data to count would defeat the
            # point of a footer-only sizing probe
            files = glob.glob(os.path.join(path, "*.parquet"))
            if not files:
                return 1 << 62
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return 1 << 62


def _bucket_assignments(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """(vec_id, lsh_table, bucket) for every corpus vector — the
    bucket stage of the near-dup pipeline.

    Served from the PERSISTED LSH index (``ann_index.ensure_lsh_index``
    — same md5 hyperplanes, tables and planes as the oracle) whenever
    one is warm or buildable: the index is ingest-time state, so the
    query-time plan is a column-pruned parquet scan of (vec_id +
    partition columns) instead of re-running the Arrow matmul over the
    whole corpus on EVERY query — the round-4 perf-weak finding. The
    bucket id is the index's partition-string encoding; only equality
    matters to the (lsh_table, bucket) self-join, and the string bits
    are in bijection with the packed-int encoding the fallback emits.

    Falls back to the in-plan Arrow matmul when the index can't be
    built (e.g. an unwritable cache root) — same assignments, computed
    inline."""
    try:
        from etl_generator_demo_spark.operators._fallback import check_forced

        check_forced("similarity._bucket_assignments")
        from etl_generator_demo_spark.operators.ann_index import ensure_lsh_index

        path = ensure_lsh_index(spark, sf_dir, NEARDUP_TABLES, NEARDUP_PLANES)
        return read_parquet_known(spark, path).select("vec_id", "lsh_table", "bucket")
    except Exception as exc:
        from etl_generator_demo_spark.operators._fallback import warn_fallback_once

        warn_fallback_once("similarity._bucket_assignments", exc)
    # closure-captured plain data: executor workers can't import this
    # package, so the UDF must carry its constants by value
    plane_rows = [
        _hyperplane(tbl, p, DIM)
        for tbl in range(NEARDUP_TABLES)
        for p in range(NEARDUP_PLANES)
    ]
    n_tables, n_planes = NEARDUP_TABLES, NEARDUP_PLANES

    def bucket_rows(batches):
        import numpy as np
        import pandas as pd

        P = np.asarray(plane_rows, dtype="float64").T  # dim x (tables*planes)
        pow2 = 1 << np.arange(n_planes - 1, -1, -1)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            S = ((V @ P) >= 0).astype("int64")
            ids = pdf["vec_id"].to_numpy()
            n = len(ids)
            # pack each table's sign bits into ONE int bucket id —
            # fully vectorized (the old per-row "".join string encode
            # was the slowest Python in this stage); equality-by-bucket
            # is all the join needs, so the encoding is engine-private
            buckets = S.reshape(n, n_tables, n_planes) @ pow2
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, n_tables),
                    "lsh_table": np.tile(np.arange(n_tables, dtype="int32"), n),
                    "bucket": buckets.reshape(-1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        bucket_rows, "vec_id long, lsh_table int, bucket long"
    )


def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, broadcast_vectors: bool | None = None
) -> DataFrame:
    """Bucketed embedding near-dup pairs (vec_a, vec_b, cosine),
    unordered — shared by the pair query and the cluster-resolution
    query.

    Plan shape (each stage chosen for shuffle width, not convenience):
    - bucketing is served from the PERSISTED LSH index when warm (a
      column-pruned parquet scan — see ``_bucket_assignments``), with
      an Arrow numpy-matmul fallback computed inline;
    - cross-table candidate dedup is PLACED by the rejoin sizing (r17):
      broadcast plan = dedup after the cosine filter (output-sized; the
      map-side pipeline runs exchange-free end to end), shuffle plan =
      ``distinct`` over the NARROW (vec_a, vec_b) id pair BEFORE the
      rejoin (the candidate relation crosses two exchanges there, so
      the dup factor would be paid twice — and carrying the two 64-dim
      vectors through it would move ~1 KB/row instead of 16 B/row);
    - vectors are joined back AFTER dedup, and the exact re-rank is a
      second vectorized numpy stage. The rejoin strategy is SIZED, not
      hard-coded: broadcasting the whole embeddings table is only legal
      while it fits in an executor (<= BROADCAST_VECTORS_MAX_ROWS, a
      cheap parquet-footer count) — above that the plan falls back to a
      keyed shuffle join on vec_id, which is the 100 TB shape. Pass
      ``broadcast_vectors`` to force either plan. Same md5 hyperplanes
      as the DuckDB oracle, so both engines agree bucket-for-bucket.
    """
    emb = t(spark, sf_dir, "embeddings")
    if broadcast_vectors is None:
        broadcast_vectors = _embeddings_rows(sf_dir) <= BROADCAST_VECTORS_MAX_ROWS
    bk = _bucket_assignments(spark, sf_dir, emb)
    a = bk.select(F.col("vec_id").alias("vec_a"), "lsh_table", "bucket")
    b = bk.select(F.col("vec_id").alias("vec_b"), "lsh_table", "bucket")
    cand = (
        a.join(b, ["lsh_table", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    # Cross-table dedup placement is SIZED like the rejoin (r17, guide
    # §2.4): on the broadcast plan the candidate `distinct` was the ONLY
    # exchange between the index scan and the cosine stage — dropping it
    # fuses bucket join → rejoin → Arrow cosine into one map-side stage
    # and dedups AFTER the >0.4 filter instead (output-sized: ~690 rows
    # vs 811k candidates at sf0.1; measured in-process A/B min 1.24 s vs
    # 2.44 s). Duplicate pairs from different tables carry bit-identical
    # cosines (same vectors, same floor), so distinct-on-output ≡
    # distinct-on-candidates. On the 100 TB shuffle-fallback plan the
    # rejoin shuffles the candidate relation TWICE — there the dup
    # factor is paid twice plus Python, so candidates dedup FIRST.
    if not broadcast_vectors:
        cand = cand.distinct()
    ve = emb.select("vec_id", "embedding")
    # merge hint on the fallback path: without it Catalyst's size stats
    # would re-introduce the broadcast we're explicitly avoiding
    _side = F.broadcast if broadcast_vectors else (lambda df: df.hint("merge"))
    pairs = cand.join(
        _side(ve.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))),
        "vec_a",
    ).join(
        _side(ve.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))),
        "vec_b",
    )

    def exact_cosine(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["va"].to_numpy()).astype("float64")
            B = np.stack(pdf["vb"].to_numpy()).astype("float64")
            cos = (A * B).sum(axis=1) / (
                np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
            )
            keep = cos > 0.4
            if keep.any():
                yield pd.DataFrame(
                    {
                        "vec_a": pdf["vec_a"].to_numpy()[keep],
                        "vec_b": pdf["vec_b"].to_numpy()[keep],
                        "cosine": np.floor(cos[keep] * 1e6) / 1e6,
                    }
                )

    out = pairs.mapInPandas(exact_cosine, "vec_a long, vec_b long, cosine double")
    if broadcast_vectors:
        out = out.distinct()  # output-sized cross-table dedup (see above)
    return out


@register(
    "x3_neardup_lsh_bucketed",
    oracle=_neardup_bucketed_oracle(NEARDUP_TABLES, NEARDUP_PLANES),
    survey_ids=("X3", "X2"),
)
def x3_neardup_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline embedding near-dup pipeline, 100 TB shape: hyperplane-LSH
    bucketing (map-side, 8 tables × 4 planes) → ONE equi-join on
    (lsh_table, bucket) → exact cosine only within buckets. Linear in
    corpus + candidate pairs — no all-pairs nested loop anywhere; the
    exact tier (``x3_cosine_neardup_pairs``) survives as a test-only
    recall anchor. Expected pair recall vs exact at cos=0.4 is
    1-(1-p^4)^8 ≈ 0.75 with p = 1 - θ/π; raise `tables` for more.
    Plan notes: see ``embedding_neardup_pairs``."""
    return embedding_neardup_pairs(spark, sf_dir).orderBy("vec_a", "vec_b")


def _neardup_clusters_oracle(tables: int, planes: int) -> str:
    """Recursive-CTE transitive closure over the identical pair set —
    exact cluster-assignment parity with the Spark min-label
    propagation."""
    base = _neardup_bucketed_oracle(tables, planes)
    # reuse the pair pipeline: strip its final SELECT, name it `pairs`
    cte_part = base[: base.index("SELECT c.vec_a")]
    cos = (
        "LIST_DOT_PRODUCT(ea.v, eb.v) / (SQRT(LIST_DOT_PRODUCT(ea.v, ea.v))"
        " * SQRT(LIST_DOT_PRODUCT(eb.v, eb.v)))"
    )
    return (
        cte_part.replace("WITH e AS", "WITH RECURSIVE e AS", 1)
        + f""",
    pairs AS (
      SELECT c.vec_a, c.vec_b
      FROM cand c
      JOIN e ea ON ea.vec_id = c.vec_a
      JOIN e eb ON eb.vec_id = c.vec_b
      WHERE {cos} > 0.4
    ),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION
      SELECT vec_b, vec_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src
    )
    SELECT src AS vec_id,
           MIN(dst) AS cluster_id,
           MIN(dst) = src AS is_keep
    FROM reach
    GROUP BY src
    ORDER BY vec_id
    """
    )


@register(
    "x3_neardup_clusters",
    oracle=_neardup_clusters_oracle(NEARDUP_TABLES, NEARDUP_PLANES),
    survey_ids=("X3", "X2"),
)
def x3_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding dedup: bucketed near-dup pairs → connected
    components (distributed min-label propagation) → per-vector
    (cluster_id, is_keep), the mirror of ``x2_dedup_clusters`` on the
    embedding side. The oracle recomputes the identical pair set and
    takes its transitive closure with a recursive CTE, so cluster
    assignment is hash-checked exactly."""
    from etl_generator_demo_spark.operators.dedup_clusters import connected_components

    emb = t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    cc = connected_components(
        emb.select("vec_id"), pairs, id_col="vec_id", a_col="vec_a", b_col="vec_b"
    )
    return (
        cc.withColumn("is_keep", F.col("cluster_id") == F.col("vec_id"))
        .select("vec_id", "cluster_id", "is_keep")
        .orderBy("vec_id")
    )


@register(
    "x3_ann_ivf_topk",
    oracle="""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
        SELECT vec_id, label,
               FLOOR(LIST_DOT_PRODUCT(embedding::DOUBLE[], qv)
                     / (SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * SQRT(LIST_DOT_PRODUCT(qv, qv))) * 1000000) / 1000000 AS cosine
        FROM embeddings, q
        WHERE vec_id <> 0
    )
    SELECT vec_id, label, cosine, TRUE AS ivf_recall_ge_030
    FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    survey_ids=("X3",),
)
def x3_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against the PERSISTED index as a BOUNDED-ERROR VERDICT
    the oracle can hash: the output rows are the EXACT brute-force
    top-10 (value-verified by DuckDB, column for column), and the
    ``ivf_recall_ge_030`` flag asserts the partition-pruned probe — 4
    of 16 lists via ``ann_index.ivf_probe_topk`` — recovered at least
    3 of those 10. DuckDB emits TRUE literals, so the value hash
    deterministically checks the recall claim. The floor is 0.3
    because the fixture's embeddings are uniform random (measured
    0.4–1.0 across sf; real corpora cluster, raising IVF recall);
    pruning itself (PartitionFilters on ivf_list, no corpus scan) is
    asserted in tests/test_similarity.py."""
    from etl_generator_demo_spark.operators.ann_index import ivf_probe_topk

    emb = t(spark, sf_dir, "embeddings")
    query_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    exact = brute_force_topk(emb.filter(F.col("vec_id") != 0), query_vec, k=10)
    ivf_ids = ivf_probe_topk(
        spark, sf_dir, query_vec, k=10, n_probe=4, exclude_ids=(0,)
    ).select("vec_id")
    verdict = (
        exact.select("vec_id")
        .join(ivf_ids, "vec_id")
        .agg((F.count(F.lit(1)) / F.lit(10.0) >= 0.3).alias("ivf_recall_ge_030"))
    )
    return (
        exact.crossJoin(F.broadcast(verdict))  # 1-row verdict fan-out
        .select("vec_id", "label", "cosine", "ivf_recall_ge_030")
        .orderBy(F.desc("cosine"), "vec_id")
    )


@register(
    "x3_ann_lsh_topk",
    oracle="""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
        SELECT vec_id, label,
               FLOOR(LIST_DOT_PRODUCT(embedding::DOUBLE[], qv)
                     / (SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * SQRT(LIST_DOT_PRODUCT(qv, qv))) * 1000000) / 1000000 AS cosine
        FROM embeddings, q
        WHERE vec_id <> 0
    )
    SELECT vec_id, label, cosine, TRUE AS lsh_recall_ge_030
    FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    survey_ids=("X3",),
)
def x3_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for vec_id=0 via the PERSISTED multi-table hyperplane
    LSH index (bucket ids precomputed corpus-wide and written as
    partition columns; the probe reads only the query's 8 bucket
    directories, partition-pruned, and re-ranks exactly), stated as a
    BOUNDED-ERROR VERDICT the oracle can hash: the output rows are the
    EXACT brute-force top-10 (value-verified by DuckDB column for
    column), and ``lsh_recall_ge_030`` asserts the index probe
    recovered at least 3 of those 10. DuckDB emits TRUE literals, so
    the value hash deterministically checks the recall claim. The 0.3
    floor reflects uniform-random fixture embeddings (real corpora
    cluster, raising LSH recall); tighter recall and the
    partition-pruning plan shape are pinned in
    tests/test_similarity.py."""
    from etl_generator_demo_spark.operators.ann_index import lsh_probe_topk

    emb = t(spark, sf_dir, "embeddings")
    query_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    exact = brute_force_topk(emb.filter(F.col("vec_id") != 0), query_vec, k=10)
    lsh_ids = lsh_probe_topk(spark, sf_dir, query_vec, k=10, exclude_ids=(0,)).select(
        "vec_id"
    )
    verdict = (
        exact.select("vec_id")
        .join(lsh_ids, "vec_id")
        .agg((F.count(F.lit(1)) / F.lit(10.0) >= 0.3).alias("lsh_recall_ge_030"))
    )
    return (
        exact.crossJoin(F.broadcast(verdict))  # 1-row verdict fan-out
        .select("vec_id", "label", "cosine", "lsh_recall_ge_030")
        .orderBy(F.desc("cosine"), "vec_id")
    )


#: Batched-retrieval fixture split: the first N_QUERY vectors play the
#: query batch, the rest are the corpus.
N_QUERY, BATCH_K = 5, 3

_BATCH_COS = (
    "FLOOR(LIST_DOT_PRODUCT(v, qv)"
    " / (SQRT(LIST_DOT_PRODUCT(v, v)) * SQRT(LIST_DOT_PRODUCT(qv, qv)))"
    " * 1000000) / 1000000"
)


@register(
    "x3_ann_batch_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {N_QUERY}
    ),
    c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id >= {N_QUERY}
    ),
    scored AS (
        SELECT qid, vec_id, {_BATCH_COS} AS cosine FROM c, q
    ),
    ranked AS (
        SELECT qid, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id) AS rk
        FROM scored
    )
    SELECT qid, vec_id, cosine FROM ranked
    WHERE rk <= {BATCH_K}
    ORDER BY qid, cosine DESC, vec_id
    """,
    survey_ids=("X3",),
)
def x3_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED retrieval — exact top-{BATCH_K} neighbors for a whole
    query SET in one job, expressed as a join rather than the
    per-query driver loop the single-vector probes use (a retrieval
    service answers batches; N driver round-trips would serialize N
    scans).

    100 TB shape: the query batch BROADCASTS (it is tiny next to the
    corpus), the corpus is scanned once with |Q| JVM-codegen cosine
    evaluations per row — a deliberate bounded fan-out, not an
    accidental cartesian — and the only shuffle carries the narrow
    (qid, vec_id, cosine) triples into the per-query ranking window.
    At larger |Q|, bucket both sides with ``lsh_bucket_expr`` and join
    on (table, bucket) to cut the fan-out to same-bucket pairs."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERY).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        _floor6(cosine(F.col("v"), F.col("qv"))).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BATCH_K)
        .select("qid", "vec_id", "cosine")
        .orderBy("qid", F.desc("cosine"), "vec_id")
    )


@register(
    "x3_label_centroids",
    oracle="""
    WITH dims AS (
        SELECT label,
               UNNEST(embedding::DOUBLE[]) AS v,
               GENERATE_SUBSCRIPTS(embedding::DOUBLE[], 1) AS pos
        FROM embeddings
    ),
    per_dim AS (
        SELECT label, pos, CAST(FLOOR(AVG(v) * 1000000) AS BIGINT) AS dim_mean_micro
        FROM dims GROUP BY label, pos
    ),
    counts AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
    SELECT p.label,
           c.n_vectors,
           ARRAY_TO_STRING(ARRAY_AGG(p.dim_mean_micro ORDER BY p.pos), ',') AS centroid_micro_csv
    FROM per_dim p JOIN counts c ON c.label = p.label
    GROUP BY p.label, c.n_vectors
    ORDER BY p.label
    """,
    survey_ids=("X3",),
)
def x3_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (centroid): posexplode → one
    (label, dim) groupBy with map-side partial sums → re-assemble the
    array in dim order. The distributed shape for ANY per-group vector
    mean — nothing ever holds more than one dimension of one group;
    at 100 TB the shuffle carries |labels|×dim partial rows, not
    vectors. The centroid is emitted as a CSV of per-dim micro-units
    (floor(mean*1e6) as int): the driver's canonicalizer rejects
    array-typed cells, and integer CSV sidesteps cross-engine float
    string formatting. Callers wanting the real vector use
    :func:`label_centroids`."""
    emb = t(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        label_centroids(emb, micro_int=True)
        .withColumn(
            "centroid_micro_csv",
            F.array_join(F.transform("centroid", lambda x: x.cast("string")), ","),
        )
        .join(F.broadcast(counts), "label")
        .select("label", "n_vectors", "centroid_micro_csv")
        .orderBy("label")
    )


def label_centroids(
    emb: DataFrame, vec_col: str = "embedding", label_col: str = "label",
    micro_int: bool = False,
) -> DataFrame:
    """Library form of the per-label centroid: returns (label,
    centroid array<double>) — or array<long> of floor(mean*1e6)
    micro-units when ``micro_int`` (the deterministic cross-engine
    encoding the registered query hashes)."""
    dims = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(vec_col)).alias("pos", "v"),
    )
    mean = F.avg("v")
    dim_mean = (
        F.floor(mean * 1e6).cast("long") if micro_int else mean
    ).alias("dim_mean")
    per_dim = dims.groupBy("label", "pos").agg(dim_mean)
    return per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "dim_mean"))),
            lambda s: s["dim_mean"],
        ).alias("centroid")
    )


@register(
    "x3_quantize_int8",
    oracle="""
    WITH scaled AS (
        SELECT vec_id,
               (SELECT MAX(ABS(x)) FROM UNNEST(embedding::DOUBLE[]) AS t(x)) AS max_abs
        FROM embeddings
    )
    SELECT e.vec_id,
           FLOOR(s.max_abs * 1000000) / 1000000 AS scale,
           ARRAY_TO_STRING(
               LIST_TRANSFORM(e.embedding::DOUBLE[],
                              x -> CAST(FLOOR(x / s.max_abs * 127) AS BIGINT)),
               ',') AS q_csv
    FROM embeddings e JOIN scaled s ON s.vec_id = e.vec_id
    ORDER BY e.vec_id
    """,
    survey_ids=("X3",),
)
def x3_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (max-abs scaling,
    values in [-127, 127]) — the standard 4x storage/bandwidth cut for
    a 100 TB vector store; the scale column restores approximate
    floats for re-ranking. Pure scan-side expression, no shuffle;
    quantized values floor-scaled identically cross-engine. The int8
    codes are hashed as a CSV string (driver's canonicalizer rejects
    array cells); :func:`quantize_int8` is the array-returning
    library form."""
    emb = t(spark, sf_dir, "embeddings")
    return (
        quantize_int8(emb)
        .select(
            "vec_id",
            (F.floor(F.col("max_abs") * 1e6) / 1e6).alias("scale"),
            F.array_join(F.transform("q", lambda x: x.cast("string")), ",").alias("q_csv"),
        )
        .orderBy("vec_id")
    )


def quantize_int8(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Library form: (vec_id, max_abs double, q array<long>) with
    q = floor(x / max_abs * 127) ∈ [-127, 127]."""
    v = _as_double(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    return emb.select(
        "vec_id",
        max_abs.alias("max_abs"),
        F.transform(v, lambda x: F.floor(x / max_abs * 127).cast("long")).alias("q"),
    )


KNN_QUERIES = 5
KNN_K = 10


@register(
    "x3_knn_label_vote",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS true_label,
               embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {KNN_QUERIES}
    ),
    e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    ranked AS (
        SELECT q.query_id, q.true_label, e.vec_id, e.label,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY FLOOR(LIST_DOT_PRODUCT(e.v, q.qv)
                       / (SQRT(LIST_DOT_PRODUCT(e.v, e.v))
                          * SQRT(LIST_DOT_PRODUCT(q.qv, q.qv)))
                       * 1000000) DESC, e.vec_id
               ) AS rn
        FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    votes AS (
        SELECT query_id, true_label, label, COUNT(*) AS n_votes
        FROM ranked WHERE rn <= {KNN_K}
        GROUP BY query_id, true_label, label
    ),
    best AS (
        SELECT query_id, true_label, label AS predicted_label, n_votes,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, label) AS rk
        FROM votes
    )
    SELECT query_id,
           CAST(true_label AS BIGINT) AS true_label,
           CAST(predicted_label AS BIGINT) AS predicted_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           predicted_label = true_label AS correct
    FROM best WHERE rk = 1
    ORDER BY query_id
    """,
    survey_ids=("X3",),
)
def x3_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification by majority vote — the weak-labeling /
    label-noise-repair primitive: each of {KNN_QUERIES} held-out query
    vectors takes the majority label of its {KNN_K} cosine-nearest
    neighbors (floor-scaled cosine, vec_id tiebreak → deterministic
    neighbor set; vote ties break to the lowest label). The brute-force
    tier — at 100 TB the neighbor set comes from the persisted
    LSH/IVF-PQ probes and this query becomes the re-rank + vote tail.

    Plan: the {KNN_QUERIES}-row query relation broadcasts; one pass
    over the corpus scores all queries (no per-query scan), one window
    ranks per query."""
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        _as_double("embedding").alias("qv"),
    )
    e = emb.select("vec_id", "label", _as_double("embedding").alias("v"))
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos6", _floor6(cosine(F.col("v"), F.col("qv"))))
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("cos6"), F.col("vec_id"))
        ),
    ).filter(F.col("rn") <= KNN_K)
    votes = ranked.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    best = votes.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("n_votes"), F.col("label")
            )
        ),
    ).filter(F.col("rk") == 1)
    return best.select(
        "query_id",
        F.col("true_label").cast("long").alias("true_label"),
        F.col("label").cast("long").alias("predicted_label"),
        F.col("n_votes").cast("long").alias("n_votes"),
        (F.col("label") == F.col("true_label")).alias("correct"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension recall — truncated-embedding serving check
# ---------------------------------------------------------------------------
MRL_PREFIX_DIM = 16


@register(
    "x3_mrl_prefix_recall",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               (embedding::DOUBLE[])[1:{MRL_PREFIX_DIM}] AS p
        FROM embeddings WHERE vec_id <> 0
    ),
    q AS (
        SELECT embedding::DOUBLE[] AS qv,
               (embedding::DOUBLE[])[1:{MRL_PREFIX_DIM}] AS qp
        FROM embeddings WHERE vec_id = 0
    ),
    full_rank AS (
        SELECT vec_id, label,
               FLOOR(LIST_DOT_PRODUCT(v, qv)
                     / (SQRT(LIST_DOT_PRODUCT(v, v)) * SQRT(LIST_DOT_PRODUCT(qv, qv)))
                     * 1000000) / 1000000 AS cosine,
               ROW_NUMBER() OVER (ORDER BY
                   FLOOR(LIST_DOT_PRODUCT(v, qv)
                         / (SQRT(LIST_DOT_PRODUCT(v, v))
                            * SQRT(LIST_DOT_PRODUCT(qv, qv))) * 1000000) / 1000000
                   DESC, vec_id) AS rnk
        FROM b, q
    ),
    prefix_top AS (
        SELECT vec_id
        FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY
                       FLOOR(LIST_DOT_PRODUCT(p, qp)
                             / (SQRT(LIST_DOT_PRODUCT(p, p))
                                * SQRT(LIST_DOT_PRODUCT(qp, qp))) * 1000000) / 1000000
                       DESC, vec_id) AS rnk
            FROM b, q
        ) WHERE rnk <= 10
    )
    SELECT CAST(f.rnk AS BIGINT) AS rank, f.vec_id, f.label, f.cosine,
           f.vec_id IN (SELECT vec_id FROM prefix_top) AS in_prefix_topk
    FROM full_rank f
    WHERE f.rnk <= 10
    ORDER BY rank
    """,
    survey_ids=("X3",),
)
def x3_mrl_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation check: would serving only the FIRST
    16 of 64 embedding dimensions (the MRL deployment trick — 4x less
    vector I/O and ANN memory) still retrieve the full-dimension
    top-10? Exact top-10 under both metrics (e6-floored cosine,
    vec_id-tiebroken), full ranking annotated with prefix-top-k
    membership — the overlap count IS the recall a truncation rollout
    gets signed off on. Two embarrassingly-parallel scored scans +
    two TakeOrdered top-10s; the membership flag joins two 10-row
    relations. Nothing here grows faster than the corpus scan."""
    emb = t(spark, sf_dir, "embeddings")
    q_row = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    q_full = [float(x) for x in q_row]
    q_pre = q_full[:MRL_PREFIX_DIM]
    corpus = emb.filter(F.col("vec_id") != 0)

    full10 = (
        brute_force_topk(corpus, q_full, k=10)
        .select("vec_id", "label", "cosine")
    )
    pre = corpus.select(
        "vec_id",
        F.slice(_as_double("embedding"), 1, MRL_PREFIX_DIM).alias("p"),
    )
    qp = F.array(*[F.lit(float(x)) for x in q_pre])
    pre10 = (
        pre.withColumn("pc", _floor6(cosine(F.col("p"), qp)))
        .orderBy(F.desc("pc"), "vec_id")
        .limit(10)
        .select("vec_id")
        .withColumn("_pre_hit", F.lit(True))
    )
    from pyspark.sql import Window

    wr = Window.orderBy(F.desc("cosine"), "vec_id")
    return (
        full10.withColumn("rank", F.row_number().over(wr).cast("long"))
        .join(F.broadcast(pre10), "vec_id", "left")
        .select(
            "rank",
            "vec_id",
            "label",
            "cosine",
            F.coalesce(F.col("_pre_hit"), F.lit(False)).alias("in_prefix_topk"),
        )
        .orderBy("rank")
    )
