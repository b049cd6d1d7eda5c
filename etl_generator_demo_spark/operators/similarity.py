"""Vector similarity kernels and exact-tier queries — SURVEY.md §2.12 X3
([EXT]).

Every vector decision has one function here, and the persisted-index
probes (`ann_index.py`) and the integer k-means family
(`clustering.py`) build on them:

- expression kernels over ``embeddings.embedding`` (array<float>,
  64-dim): sequential-fold dot, norm and cosine (``try_divide``: a
  zero-norm vector scores NULL instead of failing under ANSI), the
  literal query-vector array, the floor-e6 scale;
- :func:`query_vector`, the one driver-side fetch of the query row;
  a missing row is ``None``, which :func:`brute_force_topk`, the
  probes and the radius join serve as an empty result;
- :func:`lsh_sign_kernel`, the one numpy random-hyperplane sign-bit
  kernel (index build, bucket fallback, scan-side filter and the
  driver-side query buckets all call it), over md5-derived ±1
  hyperplanes that are reproducible in any engine;
- the DuckDB oracle helpers: one ``q0`` CTE, one floor-e6 cosine and
  one plane speller (the LSH bucket match built on it lives next to
  the LSH constants in ``ann_index.py``).

The queries here are the exact (brute-force) tier: top-k, the
bucketed near-dup pipeline and its clusters, batched top-k, label
centroids, int8/bit-width quantization, k-NN vote, prefix-dimension
recall, norm audit and hard-negative mining.

Float parity: cosines are floor-scaled to 1e-6 before comparison with
the DuckDB oracle — both engines compute IEEE doubles but may sum in
different orders (1-ulp differences); floor at 1e-6 absorbs that
without the half-way ambiguity ROUND has.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.catalog import read_parquet_known
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register
from etl_generator_demo_spark.session import column_memo

DIM = 64


def _as_double(col: str | Column) -> Column:
    if isinstance(col, str):
        return _as_double_named(col)
    return F.transform(col, lambda x: x.cast("double"))


@column_memo
def _as_double_named(name: str) -> Column:
    return F.transform(F.col(name), lambda x: x.cast("double"))


def _dot(a: Column | str, b: Column | str) -> Column:
    """Sequential fold dot product — deterministic element order."""
    if isinstance(a, str) and isinstance(b, str):
        return _dot_named(a, b)
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


@column_memo
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


@column_memo
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


@column_memo
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


@column_memo(maxsize=512)
def _lit_double_array(values: tuple) -> Column:
    return F.expr("array(" + ", ".join(map(_double_sql, values)) + ")")


@column_memo(maxsize=512)
def _cosine_lit(name: str, values: tuple) -> Column:
    return cosine(_as_double_named(name), _lit_double_array(values))


def cosine_lit(name: str, values) -> Column:
    """``cosine(_as_double(name), <literal vector>)`` — the scoring
    expression of every literal-query path; NULL when there is no
    query vector (``values`` is None)."""
    if values is None:
        return F.lit(None).cast("double")
    return _cosine_lit(name, tuple(float(x) for x in values))


@column_memo
def cosine_asdouble_cols(a: str, b: str) -> Column:
    """``cosine(_as_double(a), F.col(b))`` — the batch-probe scoring
    expression (query vectors arrive as a column, corpus side needs
    the float->double transform)."""
    return cosine(_as_double_named(a), F.col(b))


def _floor6(c: Column) -> Column:
    return F.floor(c * 1_000_000) / 1_000_000


def query_vector(emb: DataFrame, col: str = "embedding", label: bool = False):
    """The query row's (``vec_id = 0``) vector, fetched driver-side at
    plan time (one indexed ``.first()``): the values of ``col`` as a
    list, or None when ``emb`` has no such row. With ``label`` the
    row's label comes back too, as ``(vector, label)``."""
    cols = [col, "label"] if label else [col]
    row = emb.filter(F.col("vec_id") == 0).select(*cols).first()
    vec = None if row is None else list(row[col])
    if label:
        return vec, None if row is None else row["label"]
    return vec


def brute_force_topk(
    vectors: DataFrame, query_vec: list[float] | None, k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k against a literal query vector (empty when
    there is none). The scan is embarrassingly parallel; only k rows
    ever reach the driver."""
    if query_vec is None:
        vectors = vectors.limit(0)
    scored = vectors.withColumn(
        "cosine", _floor6(cosine_lit("embedding", query_vec))
    )
    return scored.orderBy(F.desc("cosine"), id_col).limit(k)


# --- random-hyperplane LSH ---------------------------------------------------

def _hyperplane(table: int, plane: int, dim: int = DIM) -> list[float]:
    """Deterministic ±1 hyperplane: component j's sign comes from one
    md5 bit of 't{table}|p{plane}|{j}' — reproducible everywhere."""
    out = []
    for j in range(dim):
        h = hashlib.md5(f"t{table}|p{plane}|{j}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) >= 8 else -1.0)
    return out


def lsh_sign_kernel(tables: int, planes: int, dim: int = DIM):
    """The numpy sign-bit kernel: ``signs(V)`` maps an (n, dim) batch
    of vectors to the (n, tables, planes) boolean matrix of
    ``<v, plane> >= 0`` over the md5 hyperplanes — one BLAS matmul per
    batch (the kernel where vectorized numpy beats Spark's interpreted
    higher-order functions ~5×). The closure captures the planes as
    plain data and imports numpy locally, so executor workers need no
    package import."""
    plane_rows = [_hyperplane(tbl, p, dim) for tbl in range(tables) for p in range(planes)]

    def signs(V):
        import numpy as np

        P = np.asarray(plane_rows, dtype="float64").T  # dim x (tables*planes)
        V = np.asarray(V, dtype="float64").reshape(-1, P.shape[0])
        return ((V @ P) >= 0).reshape(len(V), tables, planes)

    return signs


def lsh_bucket_expr(vec: Column | str, table: int, planes: int, dim: int = DIM) -> Column:
    """Bucket id = concatenated signs of <vec, plane_p> for each plane,
    as a JVM expression. A string ``vec`` is a column name and serves
    the memoized tree."""
    if isinstance(vec, str):
        return _lsh_bucket_expr_named(vec, table, planes, dim)
    bits = []
    for p in range(planes):
        plane = _lit_double_array(tuple(_hyperplane(table, p, dim)))
        bits.append(F.when(_dot(vec, plane) >= 0, "1").otherwise("0"))
    return F.concat(*bits)


@column_memo
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
    """Approximate top-k over a full scan: candidates = vectors sharing
    the query's bucket in ANY of `tables` hash tables; exact cosine
    re-rank on the candidate set. Recall@10 on uniform random data with
    these defaults is ~0.9; raise `tables` for more (cost is linear in
    tables). The persisted, partition-pruned form of the same probe is
    ``ann_index.lsh_probe_topk``.

    The bucket test runs the sign-bit kernel in an Arrow-batched
    mapInPandas; the re-rank stays a JVM expression (oracle-parity
    floor-scaled cosine)."""
    signs = lsh_sign_kernel(tables, planes, len(query_vec))
    q_bits = signs([query_vec])[0].tolist()  # tables x planes

    def bucket_filter(batches):
        import numpy as _np  # self-contained: workers may lack this package

        QB = _np.asarray(q_bits, dtype=bool)
        for pdf in batches:
            if not len(pdf):
                continue
            S = signs(_np.stack(pdf["embedding"].to_numpy()))
            out = pdf[(S == QB).all(axis=2).any(axis=1)]
            if len(out):
                yield out

    candidates = vectors.mapInPandas(bucket_filter, vectors.schema)
    return (
        candidates.withColumn("cosine", _floor6(cosine_lit("embedding", query_vec)))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


# --- DuckDB oracle helpers ----------------------------------------------------

def _duck_q0(select: str = "embedding::DOUBLE[] AS qv", source: str = "embeddings", name: str = "q") -> str:
    """The query-row CTE: ``select`` over the ``vec_id = 0`` row of
    ``source``, named ``name``."""
    return f"{name} AS (SELECT {select} FROM {source} WHERE vec_id = 0)"


def _duck_cos_e6(a: str, b: str) -> str:
    """Floor-e6 cosine of two DOUBLE[] expressions as BIGINT (NULL at
    zero norm); ``/ 1000000`` gives the floor-scaled DOUBLE."""
    return (
        f"CAST(FLOOR(LIST_DOT_PRODUCT({a}, {b})"
        f" / (SQRT(LIST_DOT_PRODUCT({a}, {a}))"
        f" * SQRT(LIST_DOT_PRODUCT({b}, {b}))) * 1000000) AS BIGINT)"
    )


def _duck_plane_sign(table: int, plane: int, col: str, dim: int = DIM) -> str:
    """``<col, plane> >= 0`` for one md5 hyperplane, inlined as a literal
    list so both engines take the sign over identical constants."""
    lits = ", ".join(f"{x:.1f}" for x in _hyperplane(table, plane, dim))
    return f"LIST_DOT_PRODUCT({col}, [{lits}]::DOUBLE[]) >= 0"


def _duck_bucket_expr(table: int, planes: int, col: str = "v") -> str:
    """Bucket id of one hash table as a '0'/'1' string, the SQL twin of
    ``lsh_bucket_expr``."""
    return " || ".join(
        f"(CASE WHEN {_duck_plane_sign(table, p, col)} THEN '1' ELSE '0' END)"
        for p in range(planes)
    )


# ===========================================================================
# Exact-tier queries
# ===========================================================================

@register(
    "x3_cosine_topk",
    oracle=f"""
    WITH {_duck_q0()},
    scored AS (
        SELECT vec_id, label,
               {_duck_cos_e6("embedding::DOUBLE[]", "qv")} / 1000000 AS cosine
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
    return (
        brute_force_topk(emb.filter(F.col("vec_id") != 0), query_vector(emb), k=10)
        .select("vec_id", "label", "cosine")
    )


#: All-pairs exact tier — the TEST-ONLY oracle anchor for the bucketed
#: pipeline below. Deliberately NOT registered: a global O(n²)
#: nested-loop join is the plan you never run corpus-wide at 100 TB;
#: tests/test_oracle_canary.py keeps its DuckDB parity pinned.
ALL_PAIRS_ORACLE = f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           {_duck_cos_e6("a.v", "c.v")} / 1000000 AS cosine
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


#: Raw (unfloored) cosine of the near-dup oracles' joined pair.
_DUCK_PAIR_COS = (
    "LIST_DOT_PRODUCT(ea.v, eb.v) / (SQRT(LIST_DOT_PRODUCT(ea.v, ea.v))"
    " * SQRT(LIST_DOT_PRODUCT(eb.v, eb.v)))"
)


def _neardup_bucketed_oracle(tables: int, planes: int) -> str:
    per_table = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {tbl} AS lsh_table, {_duck_bucket_expr(tbl, planes)} AS bucket FROM e"
        for tbl in range(tables)
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
    SELECT c.vec_a, c.vec_b, {_duck_cos_e6("ea.v", "eb.v")} / 1000000 AS cosine
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
    WHERE {_DUCK_PAIR_COS} > 0.4
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
    partition columns) instead of re-running the sign-bit kernel over
    the whole corpus on every query. The bucket id is the index's
    partition-string encoding; only equality matters to the
    (lsh_table, bucket) self-join, and the string bits are in bijection
    with the packed-int encoding the fallback emits.

    Falls back to the in-plan Arrow kernel when the index can't be
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
    signs = lsh_sign_kernel(NEARDUP_TABLES, NEARDUP_PLANES)
    n_tables, n_planes = NEARDUP_TABLES, NEARDUP_PLANES

    def bucket_rows(batches):
        import numpy as np
        import pandas as pd

        pow2 = 1 << np.arange(n_planes - 1, -1, -1)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            n = len(ids)
            # pack each table's sign bits into ONE int bucket id:
            # equality-by-bucket is all the join needs, so the encoding
            # is engine-private
            buckets = signs(np.stack(pdf["embedding"].to_numpy())).astype("int64") @ pow2
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
    - cross-table candidate dedup is PLACED by the rejoin sizing:
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
    # Cross-table dedup placement is SIZED like the rejoin (guide
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
    return (
        cte_part.replace("WITH e AS", "WITH RECURSIVE e AS", 1)
        + f""",
    pairs AS (
      SELECT c.vec_a, c.vec_b
      FROM cand c
      JOIN e ea ON ea.vec_id = c.vec_a
      JOIN e eb ON eb.vec_id = c.vec_b
      WHERE {_DUCK_PAIR_COS} > 0.4
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


#: Batched-retrieval fixture split: the first N_QUERY vectors play the
#: query batch, the rest are the corpus.
N_QUERY, BATCH_K = 5, 3

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
        SELECT qid, vec_id, {_duck_cos_e6("v", "qv")} / 1000000 AS cosine FROM c, q
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
                   ORDER BY {_duck_cos_e6("e.v", "q.qv")} DESC, e.vec_id
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
    {_duck_q0(f"embedding::DOUBLE[] AS qv, (embedding::DOUBLE[])[1:{MRL_PREFIX_DIM}] AS qp")},
    full_rank AS (
        SELECT vec_id, label,
               {_duck_cos_e6("v", "qv")} / 1000000 AS cosine,
               ROW_NUMBER() OVER (ORDER BY
                   {_duck_cos_e6("v", "qv")} / 1000000
                   DESC, vec_id) AS rnk
        FROM b, q
    ),
    prefix_top AS (
        SELECT vec_id
        FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY
                       {_duck_cos_e6("p", "qp")} / 1000000
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
    q_full = query_vector(emb)
    corpus = emb.filter(F.col("vec_id") != 0)

    full10 = (
        brute_force_topk(corpus, q_full, k=10)
        .select("vec_id", "label", "cosine")
    )
    pre = corpus.select(
        "vec_id",
        F.slice(_as_double("embedding"), 1, MRL_PREFIX_DIM).alias("p"),
    )
    qp = F.array(*[F.lit(float(x)) for x in (q_full or [])[:MRL_PREFIX_DIM]])
    pre10 = (
        pre.withColumn("pc", _floor6(cosine(F.col("p"), qp)))
        .orderBy(F.desc("pc"), "vec_id")
        .limit(10)
        .select("vec_id")
        .withColumn("_pre_hit", F.lit(True))
    )
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


# ---------------------------------------------------------------------------
# embedding norm audit
# ---------------------------------------------------------------------------

@register(
    "x3_vector_norm_audit",
    oracle="""
    WITH per_vec AS (
        SELECT vec_id, label,
               CAST(LEN(embedding) AS BIGINT) AS dims,
               (SELECT CAST(SUM(CAST(FLOOR(x * 1000) AS BIGINT)
                                * CAST(FLOOR(x * 1000) AS BIGINT)) AS BIGINT)
                FROM UNNEST(embedding::DOUBLE[]) AS u(x)) AS qnorm2
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(dims) AS BIGINT) AS min_dims,
           CAST(MAX(dims) AS BIGINT) AS max_dims,
           CAST(MIN(qnorm2) AS BIGINT) AS min_qnorm2,
           CAST(MAX(qnorm2) AS BIGINT) AS max_qnorm2,
           CAST(SUM(qnorm2) AS BIGINT) AS sum_qnorm2,
           CAST(COUNT(*) FILTER (WHERE qnorm2 = 0) AS BIGINT) AS n_zero_vecs
    FROM per_vec
    GROUP BY label ORDER BY label
    """,
    survey_ids=("X3", "F6", "A1"),
)
def x3_vector_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column QA: per label, vector counts, dimensionality
    consistency (min/max dims — a ragged column is a broken upstream
    encoder), quantized squared-norm stats, and zero-vector counts
    (zero vectors poison cosine similarity downstream — they're what
    ``try_divide`` guards in the similarity family).

    Exactness: components are floored to e3 integers BEFORE the
    square-sum, so the per-vector fold is an integer sum — order-free,
    no float accumulation to wobble the hash (the quantize-then-sum
    discipline; contrast the AVG-based centroid op which relies on
    well-conditioned means). Scale: one array fold per row (stays in
    codegen), one |labels|-keyed map-combined rollup — no shuffle
    carries a vector."""
    emb = t(spark, sf_dir, "embeddings")
    per_vec = emb.select(
        "label",
        F.size("embedding").cast("long").alias("dims"),
        # Empty-array contract: NULL, not 0 — an empty embedding is a
        # missing vector, not a zero vector. (The DuckDB oracle's
        # correlated SUM over an empty UNNEST returns NULL; the Spark
        # fold would return the 0 initializer, silently counting the
        # row as a zero vector. Pinned by the empty-row pytest.)
        F.when(F.size("embedding") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.aggregate(
                F.transform(
                    "embedding",
                    lambda x: F.floor(x.cast("double") * 1000).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, q: acc + q * q,
            )
        )
        .alias("qnorm2"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("dims").cast("long").alias("min_dims"),
            F.max("dims").cast("long").alias("max_dims"),
            F.min("qnorm2").cast("long").alias("min_qnorm2"),
            F.max("qnorm2").cast("long").alias("max_qnorm2"),
            F.sum("qnorm2").cast("long").alias("sum_qnorm2"),
            F.count(F.when(F.col("qnorm2") == 0, 1))
            .cast("long")
            .alias("n_zero_vecs"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension recall sweep
# ---------------------------------------------------------------------------

#: Prefix lengths swept (full dim last = the ground-truth anchor).
MRL_PREFIX_DIMS = (8, 16, 32, 64)
#: Query vectors (vec_id < NQ) and neighbours retrieved per query.
MRL_NQ = 4
MRL_K = 10


def _mrl_oracle() -> str:
    dims = ", ".join(f"({p})" for p in MRL_PREFIX_DIMS)
    return f"""
    WITH ps(p) AS (VALUES {dims}),
    q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {MRL_NQ}
    ),
    scored AS (
        SELECT q.qid, ps.p, e.vec_id,
               {_duck_cos_e6("(e.embedding::DOUBLE[])[1:ps.p]", "(q.qv)[1:ps.p]")} AS cos6
        FROM embeddings e CROSS JOIN q CROSS JOIN ps
        WHERE e.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid, p, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid, p
                                  ORDER BY cos6 DESC, vec_id) AS rk
        FROM scored
    ),
    topk AS (SELECT qid, p, vec_id FROM ranked WHERE rk <= {MRL_K}),
    truth AS (SELECT qid, vec_id FROM topk WHERE p = {MRL_PREFIX_DIMS[-1]}),
    lattice AS (SELECT q.qid, ps.p FROM q CROSS JOIN ps),
    hits AS (
        SELECT t.qid, t.p, CAST(COUNT(tr.vec_id) AS BIGINT) AS n_hits
        FROM topk t
        JOIN truth tr ON tr.qid = t.qid AND tr.vec_id = t.vec_id
        GROUP BY t.qid, t.p
    ),
    rec AS (
        SELECT l.qid, l.p, COALESCE(h.n_hits, 0) AS n_hits
        FROM lattice l LEFT JOIN hits h ON h.qid = l.qid AND h.p = l.p
    )
    SELECT CAST(p AS BIGINT) AS p_dim,
           CAST(SUM(n_hits) * 1000000 // ({MRL_K} * {MRL_NQ}) AS BIGINT)
               AS mean_recall_e6,
           CAST(MIN(n_hits) * 1000000 // {MRL_K} AS BIGINT)
               AS min_recall_e6
    FROM rec
    GROUP BY p
    ORDER BY p_dim
    """


@column_memo
def _mrl_sq(name: str):
    return F.transform(name, lambda x: x * x)


@column_memo
def _mrl_cascade(arr_col: str, cuts: tuple = tuple(MRL_PREFIX_DIMS)):
    """Cascaded sequential-fold prefix sums of an array column:
    sums[i] = fold over elements [1..cuts[i]], each continuing the
    previous partial — op order identical to a fresh fold."""
    sums, prev_cut, prev = [], 0, F.lit(0.0)
    for c in cuts:
        s = F.aggregate(
            F.slice(F.col(arr_col), prev_cut + 1, c - prev_cut),
            prev,
            lambda acc, v: acc + v,
        )
        sums.append(s)
        prev_cut, prev = c, s
    return tuple(sums)


@column_memo
def _mrl_prod():
    return F.zip_with("ev", "qv", lambda x, y: x * y)


@column_memo
def _mrl_explode_col():
    dots = _mrl_cascade("_prod")
    cos6 = [
        F.floor(
            F.try_divide(
                d, F.sqrt(F.col(f"_ne{p}")) * F.sqrt(F.col(f"_nq{p}"))
            )
            * 1_000_000
        )
        for p, d in zip(MRL_PREFIX_DIMS, dots)
    ]
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(p).cast("int").alias("p"), c.alias("cos6"))
                for p, c in zip(MRL_PREFIX_DIMS, cos6)
            ]
        )
    )


@register(
    "x3_matryoshka_prefix_recall",
    oracle=_mrl_oracle(),
    survey_ids=("X3", "A1", "W4", "J1"),
)
def x3_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation recall sweep (Kusupati et al. 2022):
    retrieve cosine top-k using only the first p dims of the embedding
    (p ∈ 8/16/32/64) and measure recall@k against the full-dim ground
    truth — the measured curve behind the 'truncate embeddings to cut
    ANN cost 8×' decision, the same measured-knob discipline as the
    IVF n_probe and LSH band sweeps. The full-dim row anchors the
    sweep at recall 1.0 by construction.

    Plan: NQ broadcast query vectors × |dims| prefix lengths against
    one corpus scan (brute-force tier — the eval needs exact ground
    truth); per-(query, p) ranks via a keyed window over the NQ·|dims|
    lattice; recall joins the p-ranked lists to the full-dim list on
    (qid, vec_id). Work is NQ·|dims|·corpus — linear in the corpus
    with a 16× constant, never corpus×corpus. Cosines floor to e6
    before ranking (ties broken by vec_id) for cross-engine parity.

    Per-task work: the four prefix dots/norms CASCADE (the p=16 fold
    starts from the p=8 partial, exactly the same sequential op order
    as folding the first 16 elements, so every cosine is
    bit-identical), corpus-side prefix norms are computed once per
    vector BEFORE the query crossJoin, query-side norms once per query
    row before broadcast, and the lattice explode happens AFTER
    scoring, on the narrow (p, cos6) pairs — ~4× fewer floating-point
    ops than re-folding each prefix."""
    emb = t(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < MRL_NQ)
        .select(
            F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
        )
        .withColumn("_qsq", _mrl_sq("qv"))
    )
    q = q.select(
        "qid",
        "qv",
        *[
            s.alias(f"_nq{p}")
            for p, s in zip(MRL_PREFIX_DIMS, _mrl_cascade("_qsq"))
        ],
    )
    e = (
        emb.select("vec_id", _as_double("embedding").alias("ev"))
        .withColumn("_esq", _mrl_sq("ev"))
    )
    e = e.select(
        "vec_id",
        "ev",
        *[
            s.alias(f"_ne{p}")
            for p, s in zip(MRL_PREFIX_DIMS, _mrl_cascade("_esq"))
        ],
    )
    paired = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("_prod", _mrl_prod())
    )
    scored = paired.select(
        "qid",
        "vec_id",
        _mrl_explode_col().alias("_pc"),
    ).select("qid", F.col("_pc.p").alias("p"), "vec_id", F.col("_pc.cos6").alias("cos6"))
    rk = F.row_number().over(
        Window.partitionBy("qid", "p").orderBy(F.desc("cos6"), "vec_id")
    )
    topk = scored.withColumn("rk", rk).filter(F.col("rk") <= MRL_K).select(
        "qid", "p", "vec_id"
    )
    truth = topk.filter(F.col("p") == MRL_PREFIX_DIMS[-1]).select(
        F.col("qid").alias("tqid"), F.col("vec_id").alias("tvid")
    )
    hits = (
        topk.join(
            F.broadcast(truth),
            (F.col("qid") == F.col("tqid")) & (F.col("vec_id") == F.col("tvid")),
        )
        .groupBy("qid", "p")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    ps = spark.createDataFrame([(p,) for p in MRL_PREFIX_DIMS], "p int")
    lattice = q.select("qid").crossJoin(F.broadcast(ps))
    rec = lattice.join(hits, ["qid", "p"], "left").select(
        "qid", "p", F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits")
    )
    return (
        rec.groupBy("p")
        .agg(
            F.expr(
                f"CAST(SUM(n_hits) * 1000000 div ({MRL_K} * {MRL_NQ}) AS LONG)"
            ).alias("mean_recall_e6"),
            F.expr(f"CAST(MIN(n_hits) * 1000000 div {MRL_K} AS LONG)").alias(
                "min_recall_e6"
            ),
        )
        .select(
            F.col("p").cast("long").alias("p_dim"),
            "mean_recall_e6",
            "min_recall_e6",
        )
        .orderBy("p_dim")
    )


# ---------------------------------------------------------------------------
# scalar-quantization bits sweep (the storage-vs-recall knob)
# ---------------------------------------------------------------------------

#: Swept code widths: (bits, L) with symmetric levels q in [-L, L],
#: q = floor(x / max_abs * L). 8 bits is `x3_quantize_int8`'s single
#: point; the sweep prices the 2-/4-bit storage cuts against it.
SQ_BITS_SWEEP = ((2, 1), (4, 7), (8, 127))
#: Ground-truth queries (same head as x3_knn_label_vote).
SQ_NQ = 5
SQ_TOPK = 10


def _sq_oracle() -> str:
    arms = []
    for bits, lv in SQ_BITS_SWEEP:
        arms.append(f"SELECT {bits} AS bits, {lv} AS lv")
    bits_rel = " UNION ALL ".join(arms)
    return f"""
    WITH b AS ({bits_rel}),
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (SELECT MAX(ABS(x)) FROM UNNEST(embedding::DOUBLE[]) AS t(x))
                   AS max_abs
        FROM embeddings
    ),
    dq AS (
        SELECT b.bits, b.lv, e.vec_id, e.v, e.max_abs,
               LIST_TRANSFORM(e.v,
                   x -> FLOOR(x / e.max_abs * b.lv) * e.max_abs / b.lv) AS xq
        FROM e CROSS JOIN b
    ),
    err AS (
        SELECT bits, vec_id, v, xq,
               LIST_TRANSFORM(GENERATE_SERIES(1, LEN(v)),
                              i -> v[i] - xq[i]) AS ev
        FROM dq
    ),
    sse AS (
        SELECT bits, vec_id,
               CAST(FLOOR(LIST_DOT_PRODUCT(ev, ev) * 1000000) AS BIGINT)
                   AS sse_e6
        FROM err
    ),
    q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {SQ_NQ}
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY FLOOR(LIST_DOT_PRODUCT(e.v, q.qv) * 1000000)
                                DESC, e.vec_id) AS rn
            FROM e CROSS JOIN q
        ) WHERE rn <= {SQ_TOPK}
    ),
    approx AS (
        SELECT bits, query_id, vec_id FROM (
            SELECT dq.bits, q.query_id, dq.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY dq.bits, q.query_id
                       ORDER BY FLOOR(LIST_DOT_PRODUCT(dq.xq, q.qv) * 1000000)
                                DESC, dq.vec_id) AS rn
            FROM dq CROSS JOIN q
        ) WHERE rn <= {SQ_TOPK}
    ),
    rec AS (
        SELECT a.bits, CAST(COUNT(*) AS BIGINT) AS recall10_sum
        FROM approx a JOIN exact x
          ON x.query_id = a.query_id AND x.vec_id = a.vec_id
        GROUP BY a.bits
    )
    SELECT s.bits,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(s.sse_e6) AS BIGINT) AS sum_sse_e6,
           CAST(COALESCE(MAX(rec.recall10_sum), 0) AS BIGINT) AS recall10_sum
    FROM sse s LEFT JOIN rec ON rec.bits = s.bits
    GROUP BY s.bits
    ORDER BY s.bits
    """


@register(
    "x3_sq_bits_sweep",
    oracle=_sq_oracle(),
    survey_ids=("X3", "A1", "W1"),
)
def x3_sq_bits_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization width sweep — the vector-store storage knob
    measured: per code width (2/4/8 bits, symmetric max-abs scaling)
    report total reconstruction error (per-vector SSE, e6-floored then
    exact integer sums) AND asymmetric recall@10 (quantized corpus
    scored against EXACT query vectors — the ADC protocol
    `x3_ivfpq_adc_topk` uses) versus the full-precision ground truth.
    8 bits is the `x3_quantize_int8` point; the curve prices dropping
    to 4/2 bits (16x/32x storage cut) in recalled neighbors.

    Plan: ONE embedding scan serves the whole sweep — the 3-row width
    relation broadcast-joins onto it, dequantization and the error dot
    product are scan-side array expressions (the proven
    LIST_DOT_PRODUCT/fold kernel), and the two rank tiers are
    {SQ_NQ}-query row_number windows, the `x3_knn_label_vote` shape.
    At 100 TB the sweep reads the corpus once, not once per width."""
    emb = t(spark, sf_dir, "embeddings")
    widths = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("bits"),
                F.lit(lv).cast("double").alias("lv"),
            )
            for b, lv in SQ_BITS_SWEEP
        ]
    )
    e = emb.select(
        "vec_id",
        _as_double("embedding").alias("v"),
        F.array_max(F.transform(_as_double("embedding"), F.abs)).alias("max_abs"),
    )
    dq = e.select(
        "vec_id",
        "v",
        "max_abs",
        F.explode(widths).alias("w"),
    ).select(
        "vec_id",
        "v",
        F.col("w.bits").alias("bits"),
        # max_abs carried from the `e` projection — recomputing the
        # array max inside the lambda is O(dim²) per vector
        F.expr(
            "transform(v, x -> floor(x / max_abs * w.lv) * max_abs / w.lv)"
        ).alias("xq"),
    )
    err = F.zip_with(F.col("v"), F.col("xq"), lambda a, b: a - b)
    sse = dq.select(
        "bits",
        "vec_id",
        "xq",
        F.floor(_dot(err, err) * 1_000_000).cast("long").alias("sse_e6"),
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < SQ_NQ).select(
            F.col("vec_id").alias("query_id"),
            _as_double("embedding").alias("qv"),
        )
    )
    exact_rn = Window.partitionBy("query_id").orderBy(
        F.desc("score_e6"), F.asc("vec_id")
    )
    exact = (
        e.crossJoin(q)
        .select(
            "query_id",
            "vec_id",
            F.floor(_dot(F.col("v"), F.col("qv")) * 1_000_000)
            .cast("long")
            .alias("score_e6"),
        )
        .withColumn("rn", F.row_number().over(exact_rn))
        .filter(F.col("rn") <= SQ_TOPK)
        .select("query_id", "vec_id")
    )
    approx_rn = Window.partitionBy("bits", "query_id").orderBy(
        F.desc("score_e6"), F.asc("vec_id")
    )
    approx = (
        sse.crossJoin(q)
        .select(
            "bits",
            "query_id",
            "vec_id",
            F.floor(_dot(F.col("xq"), F.col("qv")) * 1_000_000)
            .cast("long")
            .alias("score_e6"),
        )
        .withColumn("rn", F.row_number().over(approx_rn))
        .filter(F.col("rn") <= SQ_TOPK)
        .select("bits", "query_id", "vec_id")
    )
    rec = (
        approx.join(exact, ["query_id", "vec_id"])
        .groupBy("bits")
        .agg(F.count(F.lit(1)).cast("long").alias("recall10_sum"))
    )
    return (
        sse.groupBy("bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("sse_e6").cast("long").alias("sum_sse_e6"),
        )
        # LEFT join + COALESCE: a width whose recall@10 overlap is zero
        # must still emit its sweep row (the inner join
        # silently dropped the arm in both engines, so the oracle gate
        # could not catch the broken one-row-per-width contract).
        .join(F.broadcast(rec), "bits", "left")
        .select(
            "bits",
            "n_vectors",
            "sum_sse_e6",
            F.coalesce(F.col("recall10_sum"), F.lit(0).cast("long")).alias(
                "recall10_sum"
            ),
        )
        .orderBy("bits")
    )


# ---------------------------------------------------------------------------
# hard-negative mining (the contrastive-training data op)
# ---------------------------------------------------------------------------

#: Queries and negatives per query.
HARDNEG_NQ = 5
HARDNEG_K = 5


@register(
    "x3_hard_negative_mining",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, label AS query_label, v AS qv
        FROM e WHERE vec_id < {HARDNEG_NQ}
    ),
    ranked AS (
        SELECT q.query_id, q.query_label, e.vec_id AS neg_id,
               e.label AS neg_label,
               CAST(FLOOR(LIST_DOT_PRODUCT(e.v, q.qv) * 1000000) AS BIGINT)
                   AS score_e6,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY FLOOR(LIST_DOT_PRODUCT(e.v, q.qv) * 1000000)
                            DESC, e.vec_id) AS rnk
        FROM e CROSS JOIN q
        WHERE e.label <> q.query_label
    )
    SELECT query_id, query_label, CAST(rnk AS BIGINT) AS rnk, neg_id,
           neg_label, score_e6
    FROM ranked WHERE rnk <= {HARDNEG_K}
    ORDER BY query_id, rnk
    """,
    survey_ids=("X3", "W1", "X4"),
)
def x3_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training — the third use
    of the neighbor kernel after search (`x3_cosine_topk`) and label
    vote (`x3_knn_label_vote`): for each anchor, the top-k most
    SIMILAR vectors with a DIFFERENT label. Those near-miss negatives
    are what make an embedding model's triplet loss informative
    (random negatives are trivially separable); next to
    `x4_contrastive_triplets` (which pairs within/without groups by
    metadata) this mines the negatives from geometry.

    Plan: {HARDNEG_NQ} anchor vectors broadcast against ONE corpus
    scan, label-filtered BEFORE ranking (the wrong-label filter prunes
    the rank input), per-anchor row_number windows. At scale the
    corpus-side scan is the IVF-pruned probe (`x3_ann_ivf_topk`), same
    ranking tail."""
    emb = t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", _as_double("embedding").alias("v"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < HARDNEG_NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("v").alias("qv"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_e6"), F.asc("neg_id"))
    return (
        e.crossJoin(q)
        .filter(F.col("label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.floor(_dot(F.col("v"), F.col("qv")) * 1_000_000)
            .cast("long")
            .alias("score_e6"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= HARDNEG_K)
        .select("query_id", "query_label", "rnk", "neg_id", "neg_label", "score_e6")
        .orderBy("query_id", "rnk")
    )


