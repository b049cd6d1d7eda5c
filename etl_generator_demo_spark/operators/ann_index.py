"""Persisted ANN indexes and every probe query — the scale path for
SURVEY.md §2.12 X3.

Each index is a materialized artifact, built once per corpus and
written as partitioned parquet, which is how these structures run at
100 TB. All of them go through :func:`index_store` (one cache
directory per corpus fingerprint, ``_SUCCESS`` marks a finished build,
build-if-cold), and :func:`_write_index` applies one empty-corpus
rule: an empty partitioned write leaves no file to read the schema
back from, so an empty corpus is written unpartitioned and has no
lists.

- **LSH index**: every vector's bucket id in each of L hash tables
  (the ``similarity.lsh_sign_kernel`` sign bits), partitioned by
  ``(lsh_table, bucket)``. A probe takes its per-table bucket list —
  the query's own bucket, or every hamming-1 neighbour for the
  multi-probe — and reads only those directories, never the corpus;
  candidates are deduped and exactly re-ranked with the JVM cosine.
  :func:`_duck_lsh_match` is the same match in the DuckDB oracles.
- **IVF index**: a k-means coarse quantizer over the raw vectors,
  partitioned by ``ivf_list``, centroids as JSON next to it. A probe
  ranks the centroids driver-side and scans the ``n_probe`` nearest
  lists.
- **Ball-bounded IVF index** (``cosivf``): the same k-means list fit
  over NORMALIZED vectors, plus each list's radius
  ``r_l = max ||v̂ - c_l||``. For any query unit vector ``ê`` and any
  member ``v̂`` of list ``l``:

      cos(v, q) = v̂ · ê = c_l · ê + (v̂ - c_l) · ê  <=  c_l · ê + r_l

  so a list whose bound falls below a threshold τ cannot hold a hit.
  :func:`cosine_threshold_join` (every pair at or above τ) and
  :func:`exact_topk_indexed` (exact top-k) skip such lists and lose
  nothing: both are exact, DuckDB brute-verifies them, and the
  semantic decontamination tier (`decontam.py`) is served this way.
  Uniform fixture vectors give radii ~1.0 and prune nothing; clustered
  corpora prune (``x3_radius_search_clustered`` pins it).

The two IVF layouts stay separate because their list assignments
differ (raw vs normalized space), and the recall verdicts built on the
raw one are hash-checked.

Cost model at scale: index build is one linear pass (plus one shuffle
for the partitioned write); each probe touches ``O(candidates)`` rows
instead of ``O(corpus)``. The cache lives in a local directory keyed by
corpus fingerprint (path+size+mtime), so a regenerated fixture
rebuilds automatically and repeated queries reuse the artifact.

No reference counterpart (the reference delegates everything to
PostgreSQL); north-star semantics per BASELINE.json / SURVEY §2.12.
"""

from __future__ import annotations

import functools
import hashlib
import json
import operator
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.catalog import read_parquet_known
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.operators.similarity import (
    _as_double,
    _dot,
    _duck_cos_e6,
    _duck_plane_sign,
    _duck_q0,
    _floor6,
    _norm,
    brute_force_topk,
    cosine_asdouble_cols,
    cosine_lit,
    lsh_bucket_expr,
    lsh_sign_kernel,
    query_vector,
)
from etl_generator_demo_spark.registry import register

#: On-disk cache root. Lives inside the repo (gitignored) so any
#: process — pytest, bench.py, the external driver — shares one cache
#: regardless of cwd.
INDEX_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".index_cache")

LSH_TABLES = 8
LSH_PLANES = 4
IVF_LISTS = 16

#: Lists in the ball-bounded layout. 16 matches the raw IVF index; at
#: 100 TB you'd raise this toward sqrt(N) so each list is one healthy
#: parquet partition.
COS_IVF_LISTS = 16

#: Conservative slack on the ball bound: the bound is computed in
#: float64 (error ~1e-14 on dim-64 dots) but gates a floor-e6
#: comparison, so 1e-9 of margin guarantees no borderline hit is ever
#: pruned while never admitting a meaningfully-dead list.
BOUND_EPS = 1e-9

#: Radius assigned to a list with no members: bound = c·ê - 2 can
#: never reach a cosine threshold (cosines live in [-1, 1]), so empty
#: lists are disqualified outright instead of joined against nothing.
EMPTY_LIST_RADIUS = -2.0


# --- the index store ----------------------------------------------------------

def _corpus_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Fingerprint the source parquet so a regenerated fixture (same
    path, new contents) invalidates the cache."""
    p = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    try:
        st = os.stat(p)
        raw = f"{p}|{st.st_size}|{int(st.st_mtime)}"
    except OSError:
        raw = p
    return hashlib.md5(raw.encode()).hexdigest()[:12]


def index_store(sf_dir: str, name: str, build, table: str = "embeddings", sidecars=()):
    """The persisted index ``name`` of ``table``'s corpus: return
    ``(path, [sidecar values])``. Cold, ``build(path)`` writes the
    index and returns one JSON-able value per ``sidecars`` file name,
    written next to it; warm, this costs a few stat calls and reads
    only the sidecar JSON. ``_SUCCESS``, not the directory, marks a
    finished build: a crashed build leaves a partial directory."""
    path = os.path.join(INDEX_ROOT, _corpus_fingerprint(sf_dir, table), name)
    files = [os.path.join(path, f) for f in sidecars]
    if os.path.exists(os.path.join(path, "_SUCCESS")) and all(map(os.path.exists, files)):
        values = []
        for f in files:
            with open(f) as fh:
                values.append(json.load(fh))
        return path, values
    values = list(build(path) or ())
    for f, value in zip(files, values):
        with open(f, "w") as fh:
            json.dump(value, fh)
    return path, values


def _write_index(frame: DataFrame, path: str, *partition_cols: str) -> None:
    """Write ``frame`` partitioned by ``partition_cols`` (repartitioned
    first, so each directory is written by one task). An empty corpus
    leaves no partition directory — and no file to read the schema
    back from — so it is re-written unpartitioned: every probe then
    finds no list and reads an empty relation."""
    (
        frame.repartition(*partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    if not any(n.startswith(f"{partition_cols[0]}=") for n in os.listdir(path)):
        frame.write.mode("overwrite").parquet(path)


def fit_lists(frame: DataFrame, features, n_lists: int, seed: int) -> tuple[DataFrame, list[list[float]]]:
    """The k-means list fit both IVF layouts use: ``frame`` plus an
    ``ivf_list`` column, and the centroids. k-means cannot fit zero
    points, so an empty corpus gets no lists.

    At 100 TB the quantizer trains on a sample (k-means cost is
    per-point); the fixture corpus is small enough to train on
    directly."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if frame.isEmpty():
        return frame.withColumn("ivf_list", F.lit(0)), []
    ml_df = frame.withColumn("_features", array_to_vector(features))
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="_features", predictionCol="ivf_list"
    ).fit(ml_df)
    assigned = model.transform(ml_df).drop("_features")
    return assigned, [list(map(float, c)) for c in model.clusterCenters()]


# --- LSH ----------------------------------------------------------------------

def ensure_lsh_index(
    spark: SparkSession,
    sf_dir: str,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
) -> str:
    """Build the LSH index for this corpus if the cache is cold; return
    its path. Every row is emitted once per table as (vec_id, label,
    embedding, lsh_table, bucket) by one Arrow pass of the sign-bit
    kernel, written partitioned by (lsh_table, bucket)."""

    def build(path):
        from pyspark.sql.types import IntegerType, StringType, StructField, StructType

        vectors = t(spark, sf_dir, "embeddings")
        signs = lsh_sign_kernel(tables, planes)
        n_tables = tables

        def assign(batches):
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                if not len(pdf):
                    continue
                S = signs(_np.stack(pdf["embedding"].to_numpy()))
                frames = []
                for tbl in range(n_tables):
                    # 'b' prefix keeps partition discovery from type-inferring
                    # the bit string as an integer (dropping leading zeros).
                    bucket = ["b" + "".join("1" if b else "0" for b in row) for row in S[:, tbl].tolist()]
                    f = pdf.copy()
                    f["lsh_table"] = tbl
                    f["bucket"] = bucket
                    frames.append(f)
                yield _pd.concat(frames, ignore_index=True)

        schema = StructType(
            list(vectors.schema.fields)
            + [StructField("lsh_table", IntegerType()), StructField("bucket", StringType())]
        )
        _write_index(vectors.mapInPandas(assign, schema), path, "lsh_table", "bucket")

    return index_store(sf_dir, f"lsh_t{tables}p{planes}v2", build)[0]


def query_buckets(query_vec: list[float] | None, tables: int = LSH_TABLES, planes: int = LSH_PLANES) -> list[str]:
    """Driver-side bucket ids of one query vector (the index's 'b<bits>'
    partition strings) — tables*planes dot products on a single vector;
    none without a query vector."""
    if query_vec is None:
        return []
    bits = lsh_sign_kernel(tables, planes, len(query_vec))([query_vec])[0]
    return ["b" + "".join("1" if b else "0" for b in row) for row in bits.tolist()]


def multiprobe_buckets(
    query_vec: list[float] | None, tables: int = LSH_TABLES, planes: int = LSH_PLANES
) -> list[list[str]]:
    """Per-table probe sequence: the exact bucket plus every hamming-1
    perturbation (each sign bit flipped once) — Lv et al. 2007's
    multi-probe idea in its simplest deterministic form. (1+planes)
    buckets per table recover most of the recall extra tables would
    buy, WITHOUT growing the index: the trade is probe fan-out for
    index storage."""
    out = []
    for b in query_buckets(query_vec, tables, planes):
        bits = b[1:]  # strip the 'b' prefix
        out.append([b] + [
            "b" + bits[:p] + ("0" if bits[p] == "1" else "1") + bits[p + 1 :]
            for p in range(planes)
        ])
    return out


def _probe_scan(spark: SparkSession, path: str, per_table: list[list[str]]) -> DataFrame:
    """The index rows of the probed buckets (``per_table[tbl]`` lists
    table ``tbl``'s buckets).

    The read lists ONLY the probed bucket directories (basePath keeps
    the partition columns) instead of discovering all tables×2^planes
    directories — per-query listing of every partition is exactly the
    overhead a probe must not pay on an object store. The equality
    filter stays on top: it is a no-op on the pruned paths but keeps
    the plan's PartitionFilters explicit (asserted in tests) and guards
    against a stale directory listing. With no query vector, or when
    every probed bucket is empty, this is the empty index relation."""
    dirs = [
        d
        for tbl, buckets in enumerate(per_table)
        for bucket in buckets
        if os.path.isdir(d := os.path.join(path, f"lsh_table={tbl}", f"bucket={bucket}"))
    ]
    if not dirs:
        return spark.read.parquet(path).limit(0)
    # one parsed OR-expression instead of ~10 py4j round trips per
    # table (bucket ids are engine-generated 'b<bits>' strings, safe to
    # inline); `bucket IN ()` does not parse, so empty lists drop out
    cond = " OR ".join(
        "(lsh_table = {} AND bucket IN ({}))".format(tbl, ", ".join(f"'{b}'" for b in buckets))
        for tbl, buckets in enumerate(per_table)
        if buckets
    )
    return spark.read.option("basePath", path).parquet(*dirs).filter(cond)


def _lsh_probe(
    spark: SparkSession,
    sf_dir: str,
    query_vec: list[float] | None,
    per_table: list[list[str]],
    k: int,
    tables: int,
    planes: int,
    exclude_ids: tuple[int, ...],
) -> DataFrame:
    """ANN top-k over the persisted index: a partition-pruned scan of
    the probed buckets, dedupe, exact JVM cosine re-rank. No Python
    runs on the executors and no non-candidate row is read."""
    path = ensure_lsh_index(spark, sf_dir, tables, planes)
    candidates = _probe_scan(spark, path, per_table)
    if exclude_ids:
        candidates = candidates.filter(~F.col("vec_id").isin(list(exclude_ids)))
    # Rank BEFORE deduping: a vector appears in at most one probed
    # bucket per table with the identical cosine, so the top
    # k*|probes| ranked copies are guaranteed to contain >= k distinct
    # vectors. The global rank compiles to one TakeOrderedAndProject
    # over the pruned scan (no full shuffle); the dedup then touches
    # that many rows instead of exchanging every candidate.
    ranked = (
        candidates.withColumn("cosine", _floor6(cosine_lit("embedding", query_vec)))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k * sum(map(len, per_table)))
    )
    return (
        ranked.dropDuplicates(["vec_id"])
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def lsh_probe_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec: list[float] | None,
    k: int = 10,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Single-probe ANN top-k: the query's own bucket in each of the L
    tables."""
    per_table = [[b] for b in query_buckets(query_vec, tables, planes)]
    return _lsh_probe(spark, sf_dir, query_vec, per_table, k, tables, planes, exclude_ids)


def lsh_multiprobe_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec: list[float] | None,
    k: int = 10,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Multi-probe ANN top-k over the SAME persisted index: the
    (1+planes)·tables hamming-≤1 buckets. Strictly higher recall than
    single-probe at ~5× the (tiny) probe I/O."""
    per_table = multiprobe_buckets(query_vec, tables, planes)
    return _lsh_probe(spark, sf_dir, query_vec, per_table, k, tables, planes, exclude_ids)


def lsh_probe_batch_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vecs: dict[int, list[float]],
    k: int = 3,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    min_corpus_id: int = 0,
) -> DataFrame:
    """Batched ANN against the persisted LSH index: ONE partition-pruned
    scan serves every query in the batch. The (qid, lsh_table, bucket)
    probe relation and the query vectors are broadcast (a batch is
    thousands of rows; the corpus is the big side); candidates join on
    the partition columns, dedupe per (qid, vec_id), and re-rank with
    one per-qid window. This is the serving shape at 100 TB — per-query
    driver loops would issue |batch| scans; this plan issues one."""
    path = ensure_lsh_index(spark, sf_dir, tables, planes)
    probe_rows = [
        (qid, tbl, bucket)
        for qid, qv in query_vecs.items()
        for tbl, bucket in enumerate(query_buckets(qv, tables, planes))
    ]
    per_table = [
        sorted({b for _, tbl, b in probe_rows if tbl == t_}) for t_ in range(tables)
    ]
    probe = spark.createDataFrame(probe_rows, "qid long, lsh_table int, bucket string")
    qdf = spark.createDataFrame(
        [(qid, [float(x) for x in qv]) for qid, qv in query_vecs.items()],
        "qid long, qv array<double>",
    )
    cand = (
        _probe_scan(spark, path, per_table)
        .filter(F.col("vec_id") >= min_corpus_id)
        .join(F.broadcast(probe), ["lsh_table", "bucket"])
        .dropDuplicates(["qid", "vec_id"])
        .join(F.broadcast(qdf), "qid")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        cand.withColumn("cosine", _floor6(cosine_asdouble_cols("embedding", "qv")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "vec_id", "cosine")
    )


def _duck_lsh_match(e: str, q: str, hamming: int) -> str:
    """SQL twin of the LSH probe: true when ``e``'s bucket is within
    ``hamming`` flipped sign bits of ``q``'s bucket in ANY hash table
    (0 is the single probe, 1 the flip-one-bit multi-probe)."""
    def bit(tbl: int, p: int, col: str) -> str:
        return f"(CASE WHEN {_duck_plane_sign(tbl, p, col)} THEN 1 ELSE 0 END)"

    return " OR ".join(
        "("
        + " + ".join(
            f"CASE WHEN {bit(tbl, p, e)} <> {bit(tbl, p, q)} THEN 1 ELSE 0 END"
            for p in range(LSH_PLANES)
        )
        + f") <= {hamming}"
        for tbl in range(LSH_TABLES)
    )


# --- IVF ----------------------------------------------------------------------

def ensure_ivf_index(
    spark: SparkSession, sf_dir: str, n_lists: int = IVF_LISTS, seed: int = 42
) -> tuple[str, list[list[float]]]:
    """Train the coarse quantizer once per corpus, persist the list
    assignment partitioned by ivf_list plus the centroids as JSON;
    return (path, centroids). Warm calls read only the JSON."""

    def build(path):
        assigned, centroids = fit_lists(
            t(spark, sf_dir, "embeddings"), _as_double("embedding"), n_lists, seed
        )
        _write_index(assigned, path, "ivf_list")
        return [centroids]

    path, (centroids,) = index_store(
        sf_dir, f"ivf_l{n_lists}", build, sidecars=("_CENTROIDS.json",)
    )
    return path, centroids


def _nearest_lists(centroids: list[list[float]], query_vec: list[float] | None) -> list[int]:
    """List ids by L2 distance of their centroid to the query, nearest
    first; none without a query vector."""
    import numpy as np

    if query_vec is None:
        return []
    q = np.asarray(query_vec, dtype="float64")
    dists = [float(np.linalg.norm(q - np.asarray(c))) for c in centroids]
    return sorted(range(len(centroids)), key=lambda i: dists[i])


def ivf_probe_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec: list[float] | None,
    k: int = 10,
    n_lists: int = IVF_LISTS,
    n_probe: int = 4,
    exclude_ids: tuple[int, ...] = (),
    where=None,
) -> DataFrame:
    """IVF top-k via the persisted index: rank centroids driver-side,
    partition-pruned scan of the n_probe nearest lists, exact re-rank.

    ``where`` (SQL text or Column) is the PRE-FILTER arm of filtered
    vector search: the predicate is applied to the index relation
    BEFORE ranking, so Catalyst pushes it into the pruned parquet scan
    (PushedFilters next to the ivf_list PartitionFilters — asserted by
    tools/plan_audit.py) and the top-k ranks only qualifying rows. The
    post-filter alternative (over-fetch k*m then filter) loses recall
    when the predicate is selective — measured by
    `x3_filtered_topk_postfilter_sweep`."""
    path, centroids = ensure_ivf_index(spark, sf_dir, n_lists)
    probe = _nearest_lists(centroids, query_vec)[:n_probe]
    idx = read_parquet_known(spark, path).filter(F.col("ivf_list").isin(probe))
    if where is not None:
        idx = idx.filter(where)
    if exclude_ids:
        idx = idx.filter(~F.col("vec_id").isin(list(exclude_ids)))
    return (
        idx.withColumn("cosine", _floor6(cosine_lit("embedding", query_vec)))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


# --- ball-bounded IVF ---------------------------------------------------------

def _list_radii(assigned: DataFrame, centroids: list[list[float]]) -> list[float]:
    """Per-list ball radius max ||v̂ - c_l|| over the members' unit
    vectors ``_vhat``; EMPTY_LIST_RADIUS for a list with no member."""
    cexpr = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("_vhat"),
                F.element_at(cexpr, F.col("ivf_list") + 1),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    radius_rows = (
        assigned.withColumn("_r", dist)
        .groupBy("ivf_list")
        .agg(F.max("_r").alias("r"))
        .collect()  # bounded: n_lists rows — model state, not data
    )
    by_list = {int(r["ivf_list"]): float(r["r"]) for r in radius_rows}
    return [by_list.get(i, EMPTY_LIST_RADIUS) for i in range(len(centroids))]


def ensure_cosine_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    n_lists: int = COS_IVF_LISTS,
    seed: int = 42,
    corpus_fn=None,
    variant: str = "",
) -> tuple[str, list[list[float]], list[float]]:
    """Build (once per corpus fingerprint) the normalized-space IVF
    layout with per-list ball radii; return (path, centroids, radii).

    The persisted relation keeps the RAW embedding (scoring must be
    bitwise-identical to the brute tier / DuckDB oracle); only the
    k-means features and the radii live in normalized space. Zero-norm
    vectors normalize to the zero vector (coalesced), land in some
    list, and are dropped later by the same NULL-cosine rule as the
    brute tier (`try_divide` -> NULL -> filtered).

    ``corpus_fn(spark, sf_dir) -> DataFrame`` indexes a DERIVED corpus
    (columns vec_id + embedding) instead of the embeddings table,
    cached under its own ``variant`` tag — a callable, not a
    DataFrame, so a warm call never even constructs the derivation
    plan. The cache key still carries the fixture fingerprint, so
    reseeds rebuild derived indexes too."""

    def build(path):
        emb = corpus_fn(spark, sf_dir) if corpus_fn else t(spark, sf_dir, "embeddings")
        v = _as_double("embedding")
        nrm = _norm(v)
        vhat = F.transform(v, lambda x: F.coalesce(F.try_divide(x, nrm), F.lit(0.0)))
        assigned, centroids = fit_lists(
            emb.withColumn("_vhat", vhat), F.col("_vhat"), n_lists, seed
        )
        radii = _list_radii(assigned, centroids) if centroids else []
        _write_index(assigned.drop("_vhat"), path, "ivf_list")
        return centroids, radii

    tag = f"l{n_lists}" + (f"_{variant}" if variant else "")
    path, (centroids, radii) = index_store(
        sf_dir, f"cosivf_{tag}", build, sidecars=("_CENTROIDS.json", "_RADII.json")
    )
    return path, centroids, radii


def _ball_bounds(centroids: list[list[float]], radii: list[float], vec):
    """Per-list bound ``c_l · q̂ + r_l`` on the cosine any member of list
    l can reach for query vector ``vec`` (a zero-norm query bounds at
    the radius alone, and its cosines are NULL); none without a query
    vector."""
    import numpy as np

    if vec is None:
        return np.zeros(0)
    q = np.asarray([float(x) for x in vec], dtype="float64")
    n = float(np.sqrt((q * q).sum()))
    qhat = q / n if n > 0 else q * 0.0
    c = np.asarray(centroids, dtype="float64").reshape(len(centroids), len(q))
    return c @ qhat + np.asarray(radii, dtype="float64")


def qualify_lists_driver_side(
    centroids: list[list[float]],
    radii: list[float],
    queries,
    tau: float,
) -> tuple[list[tuple[int, list[float], int]], list[int]]:
    """THE ball-bound qualification for driver-side query batches:
    per query, the lists whose bound ``c_l · q̂ + r_l >= τ - ε`` can
    contain a hit. Returns (``(query_id, raw_vector, ivf_list)`` rows,
    sorted distinct lists). Shared by :func:`cosine_threshold_join`'s
    list path and the clustered scaling-probe arm, so the probe's
    reported lists-read count is BY CONSTRUCTION the operator's pruning
    decision."""
    import numpy as np

    rows = []
    lists: set[int] = set()
    for qid, vec in queries:
        bounds = _ball_bounds(centroids, radii, vec)
        ls = [int(i) for i in np.nonzero(bounds >= tau - BOUND_EPS)[0]]
        lists.update(ls)
        rows.extend((int(qid), [float(x) for x in vec], l) for l in ls)
    return rows, sorted(lists)


def cosine_threshold_join(
    spark: SparkSession,
    sf_dir: str,
    queries,
    tau_e6: int,
    corpus_filter=None,
    n_lists: int = COS_IVF_LISTS,
    corpus_fn=None,
    variant: str = "",
) -> DataFrame:
    """EXACT radius search: every (corpus vec, query) pair with
    ``floor(cosine * 1e6) >= tau_e6``, served from the ball-bounded
    IVF index with list-level pruning that provably drops no hit.

    ``queries`` is either a DataFrame with columns (query_id long,
    qv array<double>) or a driver-side list of (query_id, vector)
    pairs; ``corpus_filter`` (Column or SQL string) prunes the index
    relation and is pushed into the directory-pruned scan. Returns
    (vec_id, query_id, cos_e6).

    Plan shape, DataFrame queries: queries x 16-row broadcast centroid
    relation -> qualification filter -> broadcast-hash join to the
    index on the ``ivf_list`` partition column. Spark turns the
    broadcast side into a **dynamic partition pruning** subquery, so
    disqualified list directories are never opened. The query side
    rides a broadcast — the fixed-size-query-set assumption (eval
    suites, dedup probes); a corpus-sized query set would co-partition
    both sides on ``ivf_list`` instead.

    Plan shape, list queries: the qualification ``c_l · q̂ + r_l >= τ``
    is computed driver-side from the persisted centroid/radius JSON
    (numpy over n_lists x |queries| values — NO Spark job; the 1e-9
    bound slack dwarfs any fold-order float divergence because the
    decision is conservative, never the score), giving a LITERAL
    ``ivf_list IN (...)`` partition filter at the scan — the static
    sibling of the DPP path for the one-vector/driver-batch case where
    Spark's DPP heuristics see a LocalRelation and decline.

    Per-pair scoring is identical in both paths (and to the brute
    audit tier): sequential-fold dot over RAW vectors with per-side
    precomputed norms — floor-e6 values bitwise-match DuckDB.

    Building/loading the index is driver-side work at plan time (one
    k-means fit on first touch, two small JSON reads warm) — the same
    eager cost every sibling ANN query pays (`ivf_probe_topk`,
    `lsh_probe_batch_topk`)."""
    path, centroids, radii = ensure_cosine_ivf_index(
        spark, sf_dir, n_lists, corpus_fn=corpus_fn, variant=variant
    )
    tau = tau_e6 / 1e6

    if isinstance(queries, DataFrame):
        cent = spark.createDataFrame(
            [(i, centroids[i], radii[i]) for i in range(len(centroids))],
            "ivf_list int, c array<double>, r double",
        )
        qn = F.col("_qn")
        qhat = F.transform(
            "qv", lambda x: F.coalesce(F.try_divide(x, qn), F.lit(0.0))
        )
        q = (
            queries.select("query_id", "qv")
            .withColumn("_qn", _norm("qv"))
            .withColumn("_qhat", qhat)
        )
        qual = (
            q.crossJoin(F.broadcast(cent))
            .withColumn("_bound", _dot("_qhat", "c") + F.col("r"))
            .filter(F.col("_bound") >= F.lit(tau - BOUND_EPS))
            .select("query_id", "qv", "_qn", "ivf_list")
        )
        probe_lists = None
    else:
        rows, probe_lists = qualify_lists_driver_side(
            centroids, radii, queries, tau
        )
        qual = F.broadcast(
            spark.createDataFrame(
                rows, "query_id long, qv array<double>, ivf_list int"
            ).withColumn("_qn", _norm("qv"))
            if rows
            else spark.createDataFrame(
                [], "query_id long, qv array<double>, ivf_list int"
            ).withColumn("_qn", F.lit(0.0))
        )

    idx = read_parquet_known(spark, path)
    if probe_lists is not None:
        # static pruning: literal partition filter from the driver-side
        # qualification (empty -> empty relation, scan never runs)
        idx = idx.filter(F.col("ivf_list").isin(probe_lists or [-1]))
    if corpus_filter is not None:
        idx = idx.filter(corpus_filter)
    idx = idx.select(
        "vec_id",
        _as_double("embedding").alias("_cv"),
        F.col("ivf_list"),
    ).withColumn("_cn", _norm("_cv"))

    if isinstance(queries, DataFrame):
        qual = F.broadcast(qual)
    return (
        idx.join(qual, "ivf_list")
        .select(
            "vec_id",
            "query_id",
            F.floor(
                F.try_divide(_dot("_cv", "qv"), F.col("_cn") * F.col("_qn"))
                * 1_000_000
            )
            .cast("long")
            .alias("cos_e6"),
        )
        .filter(F.col("cos_e6") >= tau_e6)
    )


def exact_topk_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_vec: list[float] | None,
    k: int = 10,
    exclude_ids: tuple[int, ...] = (),
    n_lists: int = COS_IVF_LISTS,
) -> DataFrame:
    """EXACT cosine top-k served from the ball-bounded index — the
    missing tier between brute force (exact, full scan) and
    IVF/LSH probes (pruned, recall < 1): pruned AND recall ≡ 1.

    Two phases, both conservative:
    1. scan the single list with the highest bound; the k-th best
       floor-e6 cosine found there is a LOWER bound ``s`` on the final
       answer's k-th score (driver-held: k numbers, not data);
    2. scan every list whose ball bound can beat ``s`` (the nearest
       list included) and take the global top-k. Any vector in a
       skipped list satisfies cos ≤ c_l·q̂ + r_l < s+1e-6 ≤ the k-th
       result, so skipping loses nothing: the output is bitwise the
       brute-force top-k and DuckDB verifies it value-for-value — no
       recall-floor verdict needed.

    If phase 1 yields fewer than k rows, ``s`` falls to -1 (scan all
    qualified lists — still exact). At 100 TB phase 1 touches one list
    and phase 2 touches the handful of lists whose balls overlap the
    k-th-score cap — the standard exact-IVF termination rule, spelled
    as two static pruned scans instead of a driver loop. On uniform
    fixture vectors every list qualifies (radii ~1.0) and the plan
    degrades to one extra 1-list scan over brute force; clustered
    corpora prune (pytest pins both exactness and pruning there)."""
    path, centroids, radii = ensure_cosine_ivf_index(spark, sf_dir, n_lists)
    bounds = _ball_bounds(centroids, radii, query_vec)
    nearest = [int(bounds.argmax())] if len(bounds) else []

    def scan(lists: list[int]) -> DataFrame:
        idx = read_parquet_known(spark, path).filter(F.col("ivf_list").isin(lists))
        if exclude_ids:
            idx = idx.filter(~F.col("vec_id").isin(list(exclude_ids)))
        return (
            idx.withColumn("cosine", _floor6(cosine_lit("embedding", query_vec)))
            .orderBy(F.desc("cosine"), "vec_id")
            .limit(k)
        )

    head = scan(nearest).collect()  # phase 1: k rows, driver-held
    s = float(head[k - 1]["cosine"]) if len(head) >= k else -1.0
    # phase 2: lists whose bound can still beat s (floor-e6 scores mean
    # a bound below s - 1e-6 cannot change the top-k; keep eps slack)
    survivors = [
        i
        for i in range(len(bounds))
        if bounds[i] >= s - 1e-6 - BOUND_EPS or i in nearest
    ]
    return scan(survivors)


# --- recall verdicts ------------------------------------------------------------

def recall_verdict(exact: DataFrame, approx_ids: DataFrame, floor: float, name: str) -> DataFrame:
    """One row, one boolean column ``name``: did ``approx_ids`` recover
    at least ``floor`` of the exact top-10 ``exact``? The bounded-error
    verdict an oracle can hash — DuckDB emits TRUE, so the value hash
    checks the recall claim."""
    return (
        exact.select("vec_id")
        .join(approx_ids, "vec_id")
        .agg((F.count(F.lit(1)) / F.lit(10.0) >= floor).alias(name))
    )


def _topk_with_verdict(exact: DataFrame, approx_ids: DataFrame, floor: float, name: str) -> DataFrame:
    """The exact top-10 rows, each carrying the recall verdict of
    ``approx_ids`` against them."""
    verdict = recall_verdict(exact, approx_ids, floor, name)
    return (
        exact.crossJoin(F.broadcast(verdict))  # 1-row verdict fan-out
        .select("vec_id", "label", "cosine", name)
        .orderBy(F.desc("cosine"), "vec_id")
    )


def _duck_exact_top10(flag: str, where: str = "", q0: str = "embedding::DOUBLE[] AS qv") -> str:
    """Oracle of a verdict query: the exact top-10 neighbours of vec 0
    (``where`` narrows the corpus) with the literal TRUE ``flag``."""
    return f"""
    WITH {_duck_q0(q0)},
    scored AS (
        SELECT vec_id, label,
               {_duck_cos_e6("embedding::DOUBLE[]", "qv")} / 1000000 AS cosine
        FROM embeddings, q
        WHERE vec_id <> 0{where}
    )
    SELECT vec_id, label, cosine, TRUE AS {flag}
    FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """


# ===========================================================================
# Registered queries
# ===========================================================================

@register(
    "x3_ann_ivf_topk",
    oracle=_duck_exact_top10("ivf_recall_ge_030"),
    survey_ids=("X3",),
)
def x3_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against the PERSISTED index as a BOUNDED-ERROR VERDICT
    the oracle can hash: the output rows are the EXACT brute-force
    top-10 (value-verified by DuckDB, column for column), and the
    ``ivf_recall_ge_030`` flag asserts the partition-pruned probe — 4
    of 16 lists via :func:`ivf_probe_topk` — recovered at least 3 of
    those 10. The floor is 0.3 because the fixture's embeddings are
    uniform random (measured 0.4–1.0 across sf; real corpora cluster,
    raising IVF recall); pruning itself (PartitionFilters on ivf_list,
    no corpus scan) is asserted in tests/test_similarity.py."""
    emb = t(spark, sf_dir, "embeddings")
    query_vec = query_vector(emb)
    exact = brute_force_topk(emb.filter(F.col("vec_id") != 0), query_vec, k=10)
    ivf_ids = ivf_probe_topk(
        spark, sf_dir, query_vec, k=10, n_probe=4, exclude_ids=(0,)
    ).select("vec_id")
    return _topk_with_verdict(exact, ivf_ids, 0.3, "ivf_recall_ge_030")


@register(
    "x3_ann_lsh_topk",
    oracle=_duck_exact_top10("lsh_recall_ge_030"),
    survey_ids=("X3",),
)
def x3_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for vec_id=0 via the PERSISTED multi-table hyperplane
    LSH index (the probe reads only the query's 8 bucket directories,
    partition-pruned, and re-ranks exactly), stated as a BOUNDED-ERROR
    VERDICT the oracle can hash: the output rows are the EXACT
    brute-force top-10, and ``lsh_recall_ge_030`` asserts the index
    probe recovered at least 3 of those 10. The 0.3 floor reflects
    uniform-random fixture embeddings (real corpora cluster, raising
    LSH recall); tighter recall and the partition-pruning plan shape
    are pinned in tests/test_similarity.py."""
    emb = t(spark, sf_dir, "embeddings")
    query_vec = query_vector(emb)
    exact = brute_force_topk(emb.filter(F.col("vec_id") != 0), query_vec, k=10)
    lsh_ids = lsh_probe_topk(spark, sf_dir, query_vec, k=10, exclude_ids=(0,)).select(
        "vec_id"
    )
    return _topk_with_verdict(exact, lsh_ids, 0.3, "lsh_recall_ge_030")


def _lsh_probe_oracle(hamming: int) -> str:
    """Exact DuckDB replica of the LSH probes: candidates = corpus rows
    within ``hamming`` sign bits of the query's bucket in ANY table
    (same md5-derived hyperplanes, inlined as literals on both the
    corpus and the query vector), then the identical floor-scaled
    cosine re-rank."""
    return f"""
    WITH {_duck_q0()},
    e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id <> 0
    ),
    cand AS (
        SELECT e.vec_id, e.label, e.v, q.qv FROM e, q
        WHERE {_duck_lsh_match("e.v", "q.qv", hamming)}
    )
    SELECT vec_id, label,
           {_duck_cos_e6("v", "qv")} / 1000000 AS cosine
    FROM cand
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """


@register(
    "x3_ann_lsh_probe",
    oracle=_lsh_probe_oracle(0),
    survey_ids=("X3",),
)
def x3_ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ANN path, hash-exact: top-10 for vec_id=0 via the
    persisted partition-pruned LSH index — only the query's 8 bucket
    directories are read, never the corpus. Unlike the bounded-error
    ``x3_ann_lsh_topk`` verdict query (which computes the exact
    brute-force answer to prove a recall floor), this registers the
    probe OUTPUT itself: DuckDB recomputes the same candidate set from
    the same hyperplane constants, so the approximate result is
    value-checked row for row. This is also the query bench.py times —
    the benched ANN number measures the probe, not a full scan."""
    emb = t(spark, sf_dir, "embeddings")
    return lsh_probe_topk(spark, sf_dir, query_vector(emb), k=10, exclude_ids=(0,)).select(
        "vec_id", "label", "cosine"
    )


#: mirror x3_ann_batch_topk's fixture split (queries 0..4, corpus 5+)
BATCH_PROBE_NQ, BATCH_PROBE_K = 5, 3


@register(
    "x3_ann_batch_probe",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {BATCH_PROBE_NQ}
    ),
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id >= {BATCH_PROBE_NQ}
    ),
    cand AS (
        SELECT q.qid, e.vec_id, e.v, q.qv FROM e, q
        WHERE {_duck_lsh_match("e.v", "q.qv", 0)}
    ),
    scored AS (
        SELECT qid, vec_id,
               {_duck_cos_e6("v", "qv")} / 1000000 AS cosine
        FROM cand
    ),
    ranked AS (
        SELECT qid, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id) AS rk
        FROM scored
    )
    SELECT qid, vec_id, cosine FROM ranked WHERE rk <= {BATCH_PROBE_K}
    ORDER BY qid, cosine DESC, vec_id
    """,
    survey_ids=("X3",),
)
def x3_ann_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched retrieval through the persisted index, hash-exact: the
    first 5 vectors play the query batch against the 5+ corpus, ONE
    pruned scan + broadcast probe relation serves all of them (compare
    ``x3_ann_batch_topk``, the exact brute-force tier of the same
    split). DuckDB recomputes every query's candidate set from the
    same hyperplane constants, so the approximate batch result is
    value-checked row for row."""
    emb = t(spark, sf_dir, "embeddings")
    qvs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < BATCH_PROBE_NQ)
        .select("vec_id", "embedding")
        .collect()
    }
    return lsh_probe_batch_topk(
        spark, sf_dir, qvs, k=BATCH_PROBE_K, min_corpus_id=BATCH_PROBE_NQ
    ).orderBy("qid", F.desc("cosine"), "vec_id")


@register(
    "x3_ann_lsh_multiprobe",
    oracle=_lsh_probe_oracle(1),
    survey_ids=("X3",),
)
def x3_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-10 for vec_id=0, hash-exact like
    `x3_ann_lsh_probe`: DuckDB recomputes the hamming≤1 candidate set
    from the same hyperplane constants, so the widened probe's output
    is value-checked row for row (not just a recall flag)."""
    emb = t(spark, sf_dir, "embeddings")
    return lsh_multiprobe_topk(
        spark, sf_dir, query_vector(emb), k=10, exclude_ids=(0,)
    ).select("vec_id", "label", "cosine")


RECALL_KS = (1, 5, 10, 20)


def _lsh_recall_oracle() -> str:
    ks = ", ".join(str(k) for k in RECALL_KS)
    return f"""
    WITH {_duck_q0()},
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id <> 0
    ),
    scored AS (
        SELECT e.vec_id,
               {_duck_cos_e6("e.v", "q.qv")} / 1000000 AS cos6,
               ({_duck_lsh_match("e.v", "q.qv", 0)}) AS is_cand
        FROM e, q
    ),
    ranked AS (
        SELECT vec_id, is_cand,
               ROW_NUMBER() OVER (ORDER BY cos6 DESC, vec_id) AS exact_rk,
               CASE WHEN is_cand THEN ROW_NUMBER() OVER (
                   PARTITION BY is_cand ORDER BY cos6 DESC, vec_id)
               END AS cand_rk
        FROM scored
    ),
    ks AS (SELECT UNNEST([{ks}]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(SUM(CASE WHEN r.exact_rk <= ks.k AND r.cand_rk IS NOT NULL
                         AND r.cand_rk <= ks.k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
           CAST(SUM(CASE WHEN r.exact_rk <= ks.k AND r.cand_rk IS NOT NULL
                         AND r.cand_rk <= ks.k THEN 1 ELSE 0 END)
                * 1000000 // ks.k AS BIGINT) AS recall_e6
    FROM ks CROSS JOIN ranked r
    GROUP BY ks.k
    ORDER BY ks.k
    """


@register(
    "x3_ann_recall_curve",
    oracle=_lsh_recall_oracle(),
    survey_ids=("X3",),
)
def x3_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k curve of the single-probe LSH path vs exact search, for
    k ∈ {1, 5, 10, 20} — the eval every ANN deployment publishes before
    choosing (tables, planes, probes). A top-k exact neighbor counts as
    recalled when it appears in the candidate set's own top-k (the
    result the probe would actually return). All counts are integers,
    recall in e6 fixed-point; the candidate set is recomputed by the
    oracle from the same hyperplane constants, so the curve itself is
    hash-exact — not a self-reported metric.

    One corpus pass scores cosine + candidate membership together; two
    rank windows (global + candidate-only) and a tiny k-grid join
    finish it."""
    emb = t(spark, sf_dir, "embeddings")
    query_vec = query_vector(emb)
    # query_buckets prefixes 'b'; the raw sign-bit expr does not. The
    # bucket expression rides the memoized as-double tree.
    is_cand = functools.reduce(
        operator.or_,
        [
            lsh_bucket_expr(_as_double("embedding"), tbl, LSH_PLANES) == F.lit(b[1:])
            for tbl, b in enumerate(query_buckets(query_vec, LSH_TABLES, LSH_PLANES))
        ],
        F.lit(False),
    )
    scored = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        _floor6(cosine_lit("embedding", query_vec)).alias("cos6"),
        is_cand.alias("is_cand"),
    )
    # A hit needs exact_rk <= k AND cand_rk <= k with k <= max(RECALL_KS),
    # so only each tier's top-max(k) rows can contribute: bound BOTH
    # rankings with orderBy().limit() (TakeOrderedAndProject — a
    # per-partition top-N merge) and window the tiny heads, instead of
    # ranking the entire corpus through one unpartitioned row_number.
    kmax = max(RECALL_KS)
    wrk = Window.orderBy(F.desc("cos6"), F.col("vec_id"))
    exact_top = (
        scored.orderBy(F.desc("cos6"), "vec_id")
        .limit(kmax)
        .select("vec_id", "cos6", F.row_number().over(wrk).alias("exact_rk"))
    )
    cand_top = (
        scored.filter(F.col("is_cand"))
        .orderBy(F.desc("cos6"), "vec_id")
        .limit(kmax)
        .select("vec_id", "cos6", F.row_number().over(wrk).alias("cand_rk"))
    )
    joined = exact_top.join(
        F.broadcast(cand_top.select("vec_id", "cand_rk")), "vec_id", "left"
    )
    ks = F.explode(F.array(*[F.lit(k) for k in RECALL_KS])).alias("k")
    hit = (
        F.col("exact_rk") <= F.col("k")
    ) & F.col("cand_rk").isNotNull() & (F.col("cand_rk") <= F.col("k"))
    return (
        joined.select("exact_rk", "cand_rk", ks)
        .groupBy("k")
        .agg(F.sum(F.when(hit, 1).otherwise(0)).alias("n_hits"))
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.expr("CAST(n_hits * 1000000 DIV k AS BIGINT)").alias("recall_e6"),
        )
        .orderBy("k")
    )


# ===========================================================================
# Filtered vector search: the pre-filter arm (predicate inside the pruned
# index scan) and the post-filter multiplier sweep that prices doing it
# wrong
# ===========================================================================

#: Recall floor for the pre-filter IVF verdict — same floor as the
#: sibling bounded-error verdicts (`x3_ann_ivf_topk`,
#: `x3_ann_lsh_topk`): uniform-random fixture embeddings give IVF
#: 4-of-16-list probes measured recall 0.4–1.0; real corpora cluster.
PREFILTER_RECALL_FLOOR = 0.3


@register(
    "x3_filtered_topk_prefilter",
    oracle=_duck_exact_top10(
        "prefilter_recall_ge_030",
        " AND label = q.qlabel",
        "embedding::DOUBLE[] AS qv, label AS qlabel",
    ),
    survey_ids=("X3",),
)
def x3_filtered_topk_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN, PRE-filter arm: top-10 same-label neighbors of
    vec_id=0 where the label predicate is pushed INTO the
    partition-pruned IVF list scan before ranking — recall against the
    exact pre-filtered ground truth can then never collapse the way the
    post-filter sweep (`x3_filtered_topk_postfilter_sweep`) shows it
    does for selective predicates, because every ranked candidate
    already qualifies.

    Stated as the bounded-error verdict the oracle can hash (the
    `x3_ann_ivf_topk` pattern): output rows are the EXACT label-
    filtered brute-force top-10 (DuckDB value-verifies every column);
    ``prefilter_recall_ge_030`` asserts the pruned+filtered probe
    recovered >= 3 of those 10. The plan shape — PushedFilters on
    `label` alongside PartitionFilters on `ivf_list`, no corpus scan
    in the probe branch — is asserted by tools/plan_audit.py.

    100 TB: the probe reads n_probe/n_lists of the index, and the
    row-group predicate skips non-matching labels inside those lists;
    cost scales with the filtered probe selectivity, not the corpus.

    Plan-time driver work: one indexed fetch of the query vector and
    label (ivf_probe_topk ranks centroids driver-side — inherent to the
    serving shape) and, on first touch per corpus, the IVF index
    build. Plan-only consumers (tools/plan_audit.py) pay those at
    DataFrame-construction time."""
    emb = t(spark, sf_dir, "embeddings")
    query_vec, qlabel = query_vector(emb, label=True)
    same_label = F.col("label") == qlabel
    exact = brute_force_topk(
        emb.filter((F.col("vec_id") != 0) & same_label), query_vec, k=10
    )
    pre_ids = ivf_probe_topk(
        spark, sf_dir, query_vec, k=10, n_probe=4, exclude_ids=(0,), where=same_label
    ).select("vec_id")
    return _topk_with_verdict(exact, pre_ids, PREFILTER_RECALL_FLOOR, "prefilter_recall_ge_030")


#: Over-fetch multipliers swept for post-filtering.
POSTFILTER_MULT_SWEEP = (1, 2, 4)
PF_NQ = 5
PF_TOPK = 10


def _postfilter_oracle() -> str:
    arms = []
    for m in POSTFILTER_MULT_SWEEP:
        arms.append(f"""
        SELECT CAST({m} AS BIGINT) AS multiplier,
               CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS recall10_sum,
               CAST(COUNT(*) AS BIGINT) AS n_candidates_kept
        FROM (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id, query_label, label,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY CASE WHEN label = query_label
                                         THEN 1 ELSE 2 END,
                                    grk) AS fr
                FROM g0 WHERE grk <= {PF_TOPK} * {m}
            ) WHERE fr <= {PF_TOPK} AND label = query_label
        ) pf
        LEFT JOIN truth tr
          ON tr.query_id = pf.query_id AND tr.vec_id = pf.vec_id""")
    union = "\n        UNION ALL\n".join(arms)
    return f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, label AS query_label, v AS qv
        FROM e WHERE vec_id < {PF_NQ}
    ),
    g0 AS (
        SELECT query_id, query_label, vec_id, label, grk FROM (
            SELECT q.query_id, q.query_label, e.vec_id, e.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY FLOOR(LIST_DOT_PRODUCT(e.v, q.qv) * 1000000)
                                DESC, e.vec_id) AS grk
            FROM e CROSS JOIN q
        ) WHERE grk <= {PF_TOPK} * {max(POSTFILTER_MULT_SWEEP)}
    ),
    truth AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY FLOOR(LIST_DOT_PRODUCT(e.v, q.qv) * 1000000)
                                DESC, e.vec_id) AS rk
            FROM e JOIN q ON e.label = q.query_label
        ) WHERE rk <= {PF_TOPK}
    )
    SELECT * FROM ({union}) ORDER BY multiplier
    """


@register(
    "x3_filtered_topk_postfilter_sweep",
    oracle=_postfilter_oracle(),
    survey_ids=("X3", "W1", "A1"),
)
def x3_filtered_topk_postfilter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, the post-filter pitfall measured: when
    a top-k query carries a predicate (here: same label as the
    anchor), the cheap strategy over-fetches k*m UNFILTERED neighbors
    and filters after — and silently loses recall when the filter is
    selective (the classic filtered-ANN failure every vector store
    documents). Per multiplier m = 1/2/4: recall@10 against the exact
    PRE-filtered ground truth, plus how many of the k*m survivors the
    filter kept. With ~8 labels, m=1 keeps ~1/8 of the fetch — the
    curve shows what m buys back and what only true pre-filtering
    (`x3_hard_negative_mining`'s filter-before-rank shape) can
    guarantee.

    One global ranking serves every m (each arm is a prefix view —
    the `x2_minhash_k_sweep` discipline); the truth tier ranks the
    label-pruned corpus. All windows are {PF_NQ}-anchor row_number."""
    emb = t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", _as_double("embedding").alias("v"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < PF_NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("v").alias("qv"),
        )
    )
    score = F.floor(_dot(F.col("v"), F.col("qv")) * 1_000_000).cast("long")
    gw = Window.partitionBy("query_id").orderBy(F.desc("score_e6"), F.asc("vec_id"))
    glob = (
        e.crossJoin(q)
        .select("query_id", "query_label", "vec_id", "label", score.alias("score_e6"))
        .withColumn("grk", F.row_number().over(gw))
        .filter(F.col("grk") <= PF_TOPK * max(POSTFILTER_MULT_SWEEP))
        .localCheckpoint(eager=True)  # one ranking serves all arms + truth join
    )
    truth = (
        e.crossJoin(q)
        .filter(F.col("label") == F.col("query_label"))
        .select("query_id", "vec_id", score.alias("score_e6"))
        .withColumn("rk", F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score_e6"), F.asc("vec_id"))
        ))
        .filter(F.col("rk") <= PF_TOPK)
        .select("query_id", F.col("vec_id").alias("t_vec"))
    )
    parts = []
    for m in POSTFILTER_MULT_SWEEP:
        fw = Window.partitionBy("query_id").orderBy(
            F.when(F.col("label") == F.col("query_label"), 1).otherwise(2),
            F.asc("grk"),
        )
        pf = (
            glob.filter(F.col("grk") <= PF_TOPK * m)
            .withColumn("fr", F.row_number().over(fw))
            .filter(
                (F.col("fr") <= PF_TOPK)
                & (F.col("label") == F.col("query_label"))
            )
            .select("query_id", "vec_id")
        )
        # mirror the oracle's post-filter spelling: rank filtered-first
        # then cut to k, keeping only rows that pass the filter
        parts.append(
            pf.join(
                truth,
                (pf["query_id"] == truth["query_id"])
                & (pf["vec_id"] == truth["t_vec"]),
                "left",
            )
            .agg(
                F.lit(m).cast("long").alias("multiplier"),
                F.sum(F.when(F.col("t_vec").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("recall10_sum"),
                F.count(F.lit(1)).cast("long").alias("n_candidates_kept"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("multiplier")


#: Swept filter widths: the predicate keeps k of the L labels
#: (modular band around the query's own label), i.e. ~k/L of the
#: corpus qualifies.
PREFILTER_SEL_ARMS = (1, 2, 5)

#: Verdict floor for the sweep — DELIBERATELY below the single-arm
#: query's 0.3: measured per-arm recall on the uniform-random fixture
#: is 0.3–0.7 across both SFs (min sits exactly at 0.3), and the
#: sweep's claim is recall STABILITY across selectivity, not absolute
#: level. The post-filter sibling at m=1 on the same 10%-selective
#: predicate keeps ~0.24 and collapses further as the filter narrows.
PREFILTER_SWEEP_FLOOR = 0.2


def _prefilter_sweep_oracle() -> str:
    arms = []
    for k in PREFILTER_SEL_ARMS:
        arms.append(f"""
        SELECT CAST({k} AS BIGINT) AS arm_k,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e CROSS JOIN q CROSS JOIN l
                WHERE ((e.label - q.qlabel) % l.L + l.L) % l.L < {k})
                   AS n_qualifying,
               TRUE AS prefilter_recall_ge_020""")
    union = "\n        UNION ALL\n".join(arms)
    return f"""
    WITH {_duck_q0("label AS qlabel")},
    l AS (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS L FROM embeddings),
    e AS (SELECT vec_id, label FROM embeddings WHERE vec_id <> 0)
    SELECT * FROM ({union}) ORDER BY arm_k
    """


@register(
    "x3_prefilter_selectivity_sweep",
    oracle=_prefilter_sweep_oracle(),
    survey_ids=("X3",),
)
def x3_prefilter_selectivity_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-filter filtered-ANN recall across predicate SELECTIVITY —
    the property the post-filter sweep showed failing: as the filter
    narrows (keep 5 → 2 → 1 of the L labels), over-fetch-then-filter
    recall collapses toward k·m·selectivity, while the pre-filter
    probe ranks only qualifying rows and holds its IVF recall at every
    width. Per arm: the exact qualifying-population size (DuckDB
    value-verifies it) and the bounded-error recall verdict of the
    pruned+pushed probe against the exact pre-filtered top-10 — an arm
    nothing qualifies for has no neighbour to miss, so its verdict
    holds.

    The filter is a modular label band around the query's own label
    (k of L labels ≈ k/L of the corpus), spelled identically in the
    probe's `where` pushdown, the exact tier, and the oracle.

    100 TB: each arm is one pruned index scan (n_probe/n_lists of the
    index, label band pushed into the row groups) + a bounded rank —
    the sweep costs |arms| probes, never |arms| corpus scans.

    Plan-time driver work: one indexed fetch of the query vector and
    label, one |labels|-bounded ``distinct().count()`` for L, and the
    first-touch IVF build. The L count CANNOT fold into the plan as a
    lazy 1-row broadcast without losing the sweep's point: the modular
    label band must be a LITERAL predicate so it pushes into the pruned
    index scan (PushedFilters) and prices the pre-filter arm honestly —
    a join-carried L would turn the pushed filter into a join condition
    evaluated after the scan. Plan-only consumers pay these driver
    actions at construction time."""
    emb = t(spark, sf_dir, "embeddings")
    query_vec, qlabel = query_vector(emb, label=True)
    n_labels = emb.select("label").distinct().count()  # |labels|-bounded
    name = "prefilter_recall_ge_020"
    parts = []
    for k in PREFILTER_SEL_ARMS:
        in_band = ((F.col("label") - qlabel) % n_labels + n_labels) % n_labels < k
        qualifying = emb.filter((F.col("vec_id") != 0) & in_band)
        exact = brute_force_topk(qualifying, query_vec, k=10)
        pre_ids = ivf_probe_topk(
            spark, sf_dir, query_vec, k=10, n_probe=4, exclude_ids=(0,),
            where=in_band,
        ).select("vec_id")
        nq = qualifying.agg(
            F.count(F.lit(1)).cast("long").alias("n_qualifying")
        )
        parts.append(
            nq.crossJoin(
                F.broadcast(recall_verdict(exact, pre_ids, PREFILTER_SWEEP_FLOOR, name))
            ).select(
                F.lit(k).cast("long").alias("arm_k"),
                "n_qualifying",
                (F.col(name) | (F.col("n_qualifying") == 0)).alias(name),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("arm_k")


#: Radius-search acceptance threshold (e6): chosen so the fixture's
#: uniform-random vectors yield a small-but-nonempty neighborhood of
#: vec 0 at every SF (cosines concentrate near 0 at dim 64).
RADIUS_TAU_E6 = 250_000


@register(
    "x3_radius_search",
    oracle=f"""
    WITH {_duck_q0()},
    s AS (
        SELECT vec_id,
               {_duck_cos_e6("embedding::DOUBLE[]", "qv")} AS cos_e6
        FROM embeddings, q
        WHERE vec_id <> 0
    )
    SELECT vec_id, cos_e6 FROM s
    WHERE cos_e6 >= {RADIUS_TAU_E6}
    ORDER BY vec_id
    """,
    survey_ids=("X3",),
)
def x3_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (threshold) search — ALL corpus vectors within cosine
    tau of a query vector, the retrieval mode top-k can't express
    (dedup gates, contamination sweeps, near-neighbor audits want
    every hit, not the best k). Served exactly from the ball-bounded
    index via the STATIC pruning path (the query vector is driver-side,
    so the qualified-list set becomes a literal partition filter);
    DuckDB brute-verifies every row."""
    emb = t(spark, sf_dir, "embeddings")
    pairs = cosine_threshold_join(
        spark,
        sf_dir,
        [(0, query_vector(emb))],
        RADIUS_TAU_E6,
        corpus_filter=F.col("vec_id") != 0,
    )
    return pairs.select("vec_id", "cos_e6").orderBy("vec_id")


@register(
    "x3_exact_topk_indexed",
    oracle=f"""
    WITH {_duck_q0()}
    SELECT vec_id,
           {_duck_cos_e6("embedding::DOUBLE[]", "qv")} / 1000000 AS cosine
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    survey_ids=("X3", "O4"),
)
def x3_exact_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 neighbors of vec 0 through the two-phase
    ball-bound search — the index-served EXACT tier next to the
    bounded-error IVF/LSH probe verdicts: DuckDB verifies every row
    against brute force with no recall flag, because pruning provably
    cannot change the answer (see ``exact_topk_indexed``).

    Plan-time driver work: the query-vector fetch, the phase-1 k-row
    collect (k numbers, model state), and the first-touch index
    build."""
    emb = t(spark, sf_dir, "embeddings")
    return exact_topk_indexed(
        spark, sf_dir, query_vector(emb), k=10, exclude_ids=(0,)
    ).select("vec_id", "cosine")


# ---------------------------------------------------------------------------
# ball-bound pruning on CLUSTERED data, driver-visible
# ---------------------------------------------------------------------------

#: Deterministic clustered-corpus derivation: the uniform fixture
#: embeddings give ball radii ~1.0, so the registered radius search
#: prunes nothing at fixture shape. This derivation builds a
#: REALISTICALLY CLUSTERED corpus in-plan from the same fixtures —
#: every vector is shrunk toward its cluster anchor (anchor g = the
#: raw embedding of vec_id g, cluster of v = vec_id % G) — with
#: arithmetic expressible identically in DuckDB, so the pruned index
#: answer is hash-verified against brute force over the same derived
#: corpus. ALPHA = 0.25 is a power-of-two fraction: bit-exact in both
#: engines, no decimal-literal conversion concerns.
CLUSTERED_G = 8
CLUSTERED_ALPHA = 0.25
CLUSTERED_TAU_E6 = 800_000


def clustered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding) with embedding = anchor + ALPHA * (v -
    anchor): G tight clusters around the first G raw embeddings.
    Same-cluster cosines land ~0.97, cross-cluster near 0 — the
    geometry real embedding corpora have and the uniform fixture
    lacks."""
    emb = t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < CLUSTERED_G).select(
        F.col("vec_id").alias("_g"), _as_double("embedding").alias("_a")
    )
    return (
        emb.withColumn("_g", F.col("vec_id") % CLUSTERED_G)
        .join(F.broadcast(anchors), "_g")
        .select(
            "vec_id",
            F.zip_with(
                F.col("_a"),
                _as_double("embedding"),
                lambda a, x: a + F.lit(CLUSTERED_ALPHA) * (x - a),
            ).alias("embedding"),
        )
    )


@register(
    "x3_radius_search_clustered",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (SELECT vec_id AS g, v AS av FROM e WHERE vec_id < {CLUSTERED_G}),
    c AS (
        SELECT e.vec_id,
               LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(e.v)),
                   i -> a.av[i] + CAST({CLUSTERED_ALPHA} AS DOUBLE)
                        * (e.v[i] - a.av[i])
               ) AS cv
        FROM e JOIN a ON e.vec_id % {CLUSTERED_G} = a.g
    ),
    {_duck_q0("cv AS qv", "c")},
    s AS (
        SELECT vec_id,
               {_duck_cos_e6("cv", "qv")} AS cos_e6
        FROM c, q WHERE vec_id <> 0
    )
    SELECT vec_id, cos_e6, TRUE AS pruned_some FROM s
    WHERE cos_e6 >= {CLUSTERED_TAU_E6}
    ORDER BY vec_id
    """,
    survey_ids=("X3",),
)
def x3_radius_search_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ball-bound pruning made DRIVER-VISIBLE on clustered data: the
    radius search runs over the deterministic clustered corpus
    (`clustered_corpus` — derived in-plan from the fixture embeddings,
    identically in DuckDB) through its own persisted ball-bounded IVF
    index, and the ``pruned_some`` column pins
    ``lists_read < lists_total`` INTO THE HASH — if ball-bound pruning
    ever stops firing on clustered geometry (radii blow up,
    qualification breaks), every row flips FALSE against the oracle's
    TRUE and the driver row goes red. The hit set itself stays
    hash-exact vs brute force because the bound provably drops no hit
    (module docstring).

    The query vector is the derived vector of vec_id 0, which equals
    its own anchor (shrink of a point toward itself), i.e. the raw
    embedding of vec 0. The qualified-list count comes from
    ``qualify_lists_driver_side`` — the operator's OWN pruning
    decision, not a re-derivation."""
    emb = t(spark, sf_dir, "embeddings")
    qv = query_vector(emb)
    _path, centroids, radii = ensure_cosine_ivf_index(
        spark, sf_dir, corpus_fn=clustered_corpus, variant="clustered"
    )
    _rows, probe_lists = qualify_lists_driver_side(
        centroids, radii, [(0, qv)], CLUSTERED_TAU_E6 / 1e6
    )
    pruned_some = len(probe_lists) < len(centroids)
    pairs = cosine_threshold_join(
        spark,
        sf_dir,
        [(0, qv)],
        CLUSTERED_TAU_E6,
        corpus_filter=F.col("vec_id") != 0,
        corpus_fn=clustered_corpus,
        variant="clustered",
    )
    return (
        pairs.select(
            "vec_id", "cos_e6", F.lit(pruned_some).alias("pruned_some")
        ).orderBy("vec_id")
    )
