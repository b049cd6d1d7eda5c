"""Embedding-space clustering for data curation: fixed-iteration
Lloyd's k-means and SemDeDup-style within-cluster semantic dedup
(SURVEY §2.12 X3 — no reference counterpart; the reference delegates
everything to PostgreSQL, ``db_connector.py:227-228``).

Exactness design — the whole pipeline is ORDER-INDEPENDENT INTEGER
arithmetic, so a DuckDB oracle can hash it value-for-value:

- vectors are quantized once at the scan: q_i = FLOOR(v_i · 10⁴) as
  BIGINT (float step happens per-element on identical doubles, no
  summation);
- distances are Σ(q_i − c_i)² in BIGINT — exact, no float ever;
- centroid updates are SUM(BIGINT)/COUNT with FLOOR — SUM over longs
  is order-independent, so Spark's partition-merge order and DuckDB's
  scan order produce bit-identical centroids;
- SemDeDup's cosine threshold compares (dot² ≥ τ²·|a|²·|b|²) where
  dot/|a|²/|b|² are exact BIGINTs — the only float ops are two IEEE
  multiplications of exactly-representable inputs, identical in both
  engines.

Float k-means (mean of raw doubles) would NOT hash across engines:
group-sum order differs run to run. Quantization at 1e-4 changes the
clustering immeasurably and buys determinism.

Scale shape: each Lloyd round is one broadcast join (k×dim centroid
model, a few KB) + one (cluster, dim) map-combined groupBy — linear
scans, no all-pairs. The centroid model is collected driver-side
between rounds (k·dim values — model state, not data; same class as
the ANN query vector ``.first()``). SemDeDup's pair stage self-joins
WITHIN clusters only, co-keyed on cluster_id; production SemDeDup
(Abbas et al. 2023) sizes k ~ √N precisely so cluster cardinality
stays bounded — K here is a fixture-sized instance of that knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.operators.similarity import DIM, _duck_q0, query_vector
from etl_generator_demo_spark.registry import register

#: Quantization scale: 4 decimal digits of each embedding coordinate.
QSCALE = 10_000
#: Cluster count (fixture-sized; scale-rule is k ~ √N, see module doc).
KMEANS_K = 8
#: Fixed Lloyd rounds (centroid updates) before the final assignment.
KMEANS_ROUNDS = 2
#: SemDeDup cosine threshold: drop the higher-id member of any
#: within-cluster pair with cos ≥ τ. τ² is what the integer compare uses.
SEMDEDUP_TAU = 0.30


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (vec_id, label, q: array<long>) with q_i = ⌊v_i·10⁴⌋."""
    return t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * QSCALE).cast("long"),
        ).alias("q"),
    )


def _sqdist(q: str, c: str):
    """Exact integer squared L2 distance between two long arrays."""
    return F.aggregate(
        F.zip_with(q, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


def _assign(emb: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Nearest centroid per vector as ONE Arrow mapInPandas pass: the
    k×dim centroid model ships in the task closure (a few KB) and each
    batch scores against it with an exact int64 numpy matmul
    (d = |q|² − 2·q·Cᵀ + |c|², identical BIGINT values to the
    elementwise Σ(q−c)² the oracle computes). Ties break to the lowest
    cluster_id (argmax over the first equality). Replaces the previous
    crossJoin(k)+zip_with+groupBy-min plan: no row expansion, no
    shuffle, ~6× less interpreted expression work per vector.

    cents carries (ORIGINAL id, centroid) pairs: the positional argmin
    maps back through the id vector, so ids survive even after a Lloyd
    round empties a cluster (positional compaction would silently
    renumber and diverge from the oracle's preserved labels; the list
    stays id-sorted, so tie-to-lowest-position == tie-to-lowest-id)."""
    cmat = [c for _, c in cents]
    cids = [cid for cid, _ in cents]

    def run(batches):
        import numpy as np
        import pandas as pd

        cm = np.array(cmat, dtype=np.int64, ndmin=2)  # k×dim
        ids = np.array(cids, dtype=np.int32)
        c2 = (cm * cm).sum(axis=1)  # k
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            d = (q * q).sum(axis=1)[:, None] - 2 * (q @ cm.T) + c2[None, :]
            best = d.min(axis=1)
            cid = (d == best[:, None]).argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster_id": ids[cid],
                    "dist_q": best,
                }
            )

    return emb.select("vec_id", "q").mapInPandas(
        run, "vec_id long, cluster_id int, dist_q long"
    )


def kmeans_model(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
    where: str | None = None,
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Train the fixed-iteration Lloyd model and return
    (checkpointed quantized relation, final centroids) — the reusable
    form for consumers that need the model itself (IVF-PQ's coarse
    quantizer, purity audits), not just the assignment."""
    # the quantized relation feeds seed + one pass per round + the final
    # assignment — materialize it once (|corpus| rows) instead of
    # re-scanning and re-quantizing parquet per action
    emb = _quantized(spark, sf_dir)
    if where is not None:
        emb = emb.filter(F.expr(where))
    emb = emb.localCheckpoint(eager=True)
    seed = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    cents = [(i, list(r.q)) for i, r in enumerate(seed)]
    for _ in range(rounds):
        cmat = [c for _, c in cents]
        cids = [cid for cid, _ in cents]

        def partials(batches, _cmat=cmat, _cids=cids):
            # per-batch (cluster, dim) partial sums+counts: the update
            # shuffle carries k·dim·n_batches rows, not 64·N
            import numpy as np
            import pandas as pd

            cm = np.array(_cmat, dtype=np.int64, ndmin=2)
            c2 = (cm * cm).sum(axis=1)
            kk, dim = cm.shape
            for pdf in batches:
                if not len(pdf):
                    continue
                q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
                d = (q * q).sum(axis=1)[:, None] - 2 * (q @ cm.T) + c2[None, :]
                cid = (d == d.min(axis=1)[:, None]).argmax(axis=1)
                sums = np.zeros((kk, dim), dtype=np.int64)
                np.add.at(sums, cid, q)
                cnt = np.bincount(cid, minlength=kk).astype(np.int64)
                nz = np.nonzero(cnt)[0]
                ids = np.array(_cids, dtype=np.int32)
                yield pd.DataFrame(
                    {
                        # ORIGINAL ids, not positions: an emptied
                        # cluster must not renumber the survivors
                        "cluster_id": np.repeat(ids[nz], dim).astype("int32"),
                        "pos": np.tile(np.arange(dim, dtype=np.int64), len(nz)),
                        "s": sums[nz].reshape(-1),
                        "n": np.repeat(cnt[nz], dim),
                    }
                )

        upd = (
            emb.select("vec_id", "q")
            .mapInPandas(partials, "cluster_id int, pos long, s long, n long")
            .groupBy("cluster_id", "pos")
            .agg(
                F.floor(F.sum("s").cast("double") / F.sum("n"))
                .cast("long")
                .alias("cv")
            )
            .collect()  # k·dim rows — the model, not the data
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in upd:
            by_cluster.setdefault(r.cluster_id, {})[r.pos] = r.cv
        cents = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cluster.items())
        ]
    return emb, cents


def kmeans_assignments(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
) -> DataFrame:
    """Run `rounds` Lloyd updates from the deterministic md5-seeded
    init, then return the final assignment (vec_id, label, cluster_id,
    dist_q). Every number is an exact integer (see module doc)."""
    emb, cents = kmeans_model(spark, sf_dir, k, rounds)
    return _assign(emb, cents).join(
        emb.select("vec_id", "label"), "vec_id"
    ).select("vec_id", "label", "cluster_id", "dist_q")


def _rank_centroids(q: list[int] | None, cents: list[tuple[int, list[int]]]) -> list[int]:
    """Cluster ids by exact integer squared distance of their centroid
    to the quantized query ``q``, nearest first (ties to the lower id):
    the IVF probe order, k-row model arithmetic on the driver. None
    without a query row."""
    if q is None:
        return []
    return [
        cid
        for _, cid in sorted(
            (sum((a - b) * (a - b) for a, b in zip(q, c)), cid) for cid, c in cents
        )
    ]


def _kmeans_cte(
    k: int, rounds: int, dim: int, prefix: str = "", where: str = ""
) -> str:
    """The shared CTE chain: e (quantized) … aN (final assignment).
    Unrolled per round — the oracle is the same fixed-iteration
    computation, not an approximation. `prefix` namespaces every CTE
    so two chains (e.g. the staleness audit's stale-vs-fresh models)
    can coexist in one statement; `where` restricts the TRAINING
    population (seeding and updates) — the staleness audit trains
    the stale model on the pre-append slice."""
    p = prefix
    parts = [
        f"""{p}e AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * {QSCALE}) AS BIGINT)) AS q
        FROM embeddings {where}
    ),
    {p}init AS (
        SELECT vec_id, q, md5(CAST(vec_id AS VARCHAR)) AS h
        FROM {p}e ORDER BY h, vec_id LIMIT {k}
    ),
    {p}c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS INT) AS cluster_id, q AS c
        FROM {p}init
    )"""
    ]
    dist = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS BIGINT)"
    )
    for r in range(rounds + 1):
        parts.append(f"""{p}d{r} AS (
        SELECT e.vec_id, c.cluster_id, {dist} AS d FROM {p}e e, {p}c{r} c
    ),
    {p}a{r} AS (
        SELECT vec_id, cluster_id, d FROM (
            SELECT vec_id, cluster_id, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster_id) AS rn
            FROM {p}d{r}
        ) WHERE rn = 1
    )""")
        if r < rounds:
            parts.append(f"""{p}u{r + 1} AS (
        SELECT a.cluster_id, i.i AS pos,
               CAST(FLOOR(CAST(SUM(e.q[i.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
        FROM {p}a{r} a JOIN {p}e e USING (vec_id) CROSS JOIN range(1, {dim + 1}) AS i(i)
        GROUP BY a.cluster_id, i.i
    ),
    {p}c{r + 1} AS (
        SELECT cluster_id, list(cv ORDER BY pos) AS c FROM {p}u{r + 1} GROUP BY cluster_id
    )""")
    return ",\n    ".join(parts)


def _kmeans_oracle(k: int = KMEANS_K, rounds: int = KMEANS_ROUNDS, dim: int = DIM) -> str:
    return f"""
    WITH {_kmeans_cte(k, rounds, dim)}
    SELECT a.vec_id, e.label, a.cluster_id, a.d AS dist_q
    FROM a{rounds} a JOIN e USING (vec_id)
    ORDER BY vec_id
    """


@register("x3_kmeans_clusters", oracle=_kmeans_oracle(), survey_ids=("X3",))
def x3_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration k-means (k=8, 2 Lloyd rounds, md5-seeded init)
    over integer-quantized embeddings; vs an unrolled-CTE DuckDB oracle
    running the identical exact-integer computation."""
    return kmeans_assignments(spark, sf_dir).orderBy("vec_id")


def _semdedup_oracle(
    k: int = KMEANS_K, rounds: int = KMEANS_ROUNDS, dim: int = DIM
) -> str:
    tau2 = SEMDEDUP_TAU * SEMDEDUP_TAU
    dot = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (ea.q[i] * eb.q[i]))) AS BIGINT)"
    )
    n2 = (
        "CAST(list_sum(list_transform(range(1, {d}),"
        " i -> ({e}.q[i] * {e}.q[i]))) AS BIGINT)"
    )
    na2 = n2.format(d=dim + 1, e="ea")
    nb2 = n2.format(d=dim + 1, e="eb")
    return f"""
    WITH {_kmeans_cte(k, rounds, dim)},
    sim AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM a{rounds} a JOIN a{rounds} b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE {dot} > 0
          AND CAST({dot} AS DOUBLE) * {dot} >= {tau2!r} * (CAST({na2} AS DOUBLE) * {nb2})
    )
    SELECT a.vec_id, a.cluster_id,
           (s.vec_b IS NULL) AS keep
    FROM a{rounds} a
    LEFT JOIN (SELECT DISTINCT vec_b FROM sim) s ON s.vec_b = a.vec_id
    ORDER BY vec_id
    """


@register("x3_semdedup_keep", oracle=_semdedup_oracle(), survey_ids=("X3", "X2"))
def x3_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, then within each cluster drop every vector whose
    cosine to a LOWER-id cluster-mate is ≥ τ — semantic near-dups that
    exact/MinHash text dedup cannot see. Output is one row per vector
    with its keep/drop verdict.

    The cosine gate is exact integer arithmetic: dot > 0 AND
    dot² ≥ τ²·|a|²·|b|², with dot/|a|²/|b|² BIGINTs from quantized
    vectors (module doc). Pairs exist only WITHIN a cluster (the whole
    point of clustering first): the self-join is co-keyed on
    cluster_id, never corpus-wide."""
    # The assignment feeds BOTH the pair stage and the output row set;
    # localCheckpoint materializes it once (it is |corpus| rows of two
    # ids — tiny) instead of re-running the Lloyd assignment plan per
    # consumer. Same pattern as dedup_clusters' per-round checkpoint.
    assigned = (
        kmeans_assignments(spark, sf_dir)
        .select("vec_id", "cluster_id")
        .localCheckpoint(eager=True)
    )
    emb = _quantized(spark, sf_dir).select("vec_id", "q")
    side = assigned.join(emb, "vec_id")

    tau2 = SEMDEDUP_TAU * SEMDEDUP_TAU

    def dropped_in_cluster(pdf):
        # Self-contained Arrow-grouped closure (local imports only: no
        # SparkContext on executor workers). One exact int64 Gram
        # matrix per cluster replaces C(m,2) interpreted 64-wide
        # zip_with reductions — numpy integer matmul is the same exact
        # arithmetic the oracle's per-pair list_sum computes, and the
        # τ gate repeats the oracle's two IEEE double multiplications
        # bit-for-bit.
        import numpy as np
        import pandas as pd

        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        q = np.stack(pdf["q"].to_numpy()[order]).astype(np.int64)
        g = q @ q.T  # exact: |dot| <= 64·(5·10³·10)² « 2⁶³
        n2 = np.diag(g).astype(np.float64)
        dotf = g.astype(np.float64)
        mask = (g > 0) & (dotf * dotf >= tau2 * (n2[:, None] * n2[None, :]))
        np.fill_diagonal(mask, False)
        # ids are sorted, so upper-triangle j-indices ARE the higher-id
        # (dropped) members of each qualifying pair
        _, j = np.where(np.triu(mask, k=1))
        return pd.DataFrame({"vec_id": np.unique(ids[j])})

    dropped = side.groupBy("cluster_id").applyInPandas(
        dropped_in_cluster, "vec_id long"
    )
    return (
        assigned.join(
            dropped.withColumnRenamed("vec_id", "vec_b"),
            assigned.vec_id == F.col("vec_b"),
            "left",
        )
        .select(
            "vec_id",
            "cluster_id",
            F.col("vec_b").isNull().alias("keep"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction (Johnson–Lindenstrauss)
# ---------------------------------------------------------------------------
RP_OUT_DIM = 16


def _rp_signs(out_dim: int = RP_OUT_DIM, dim: int = DIM) -> list[list[int]]:
    """Deterministic ±1 projection matrix (Achlioptas 2003: Rademacher
    entries satisfy the JL lemma like Gaussians do) — one md5 bit per
    cell, reproducible in any engine with md5."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp|{r}|{j}".encode()).hexdigest()[0], 16) >= 8 else -1
            for j in range(dim)
        ]
        for r in range(out_dim)
    ]


def _rp_oracle(out_dim: int = RP_OUT_DIM, dim: int = DIM) -> str:
    rows = _rp_signs(out_dim, dim)
    comps = []
    for r, signs in enumerate(rows):
        terms = " + ".join(
            f"{'' if s > 0 else '-'}q[{j + 1}]" for j, s in enumerate(signs)
        ).replace("+ -", "- ")
        comps.append(f"CAST({terms} AS BIGINT)")
    proj_csv = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in comps)
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * {QSCALE}) AS BIGINT)) AS q
        FROM embeddings
    )
    SELECT vec_id, {proj_csv} AS proj_csv
    FROM e
    ORDER BY vec_id
    """


@register("x3_random_projection", oracle=_rp_oracle(), survey_ids=("X3",))
def x3_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-dim → 16-dim Rademacher random projection: each output
    component is a signed SUM of the BIGINT-quantized input — exact
    integer arithmetic end to end, emitted as a deterministic CSV
    column (the driver canonicalizer cannot hash arrays). The ±1
    matrix is md5-derived, so the DuckDB oracle inlines the identical
    signs as literal expressions.

    This is the cheap front half of the embedding toolbox: project
    once at ingest (scan-side, zero shuffle), then run coarse
    clustering / LSH / top-k candidate generation in 16 dims and
    re-rank survivors in the original space. JL distortion for the
    fixture scale is pinned by pytest on planted geometry."""
    emb = _quantized(spark, sf_dir)
    rows = _rp_signs()
    comps = []
    for signs in rows:
        comp = None
        for j, s in enumerate(signs):
            term = F.col("q").getItem(j) if s > 0 else -F.col("q").getItem(j)
            comp = term if comp is None else comp + term
        comps.append(comp.cast("long").cast("string"))
    return emb.select(
        "vec_id", F.concat_ws(",", *comps).alias("proj_csv")
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Label-quality audit over the clustering
# ---------------------------------------------------------------------------
def _label_purity_oracle(
    k: int = KMEANS_K, rounds: int = KMEANS_ROUNDS, dim: int = DIM
) -> str:
    return f"""
    WITH {_kmeans_cte(k, rounds, dim)},
    asg AS (
        SELECT a.vec_id, a.cluster_id, e.label
        FROM a{rounds} a JOIN e USING (vec_id)
    ),
    lab AS (
        SELECT cluster_id, label, CAST(COUNT(*) AS BIGINT) AS n
        FROM asg GROUP BY cluster_id, label
    ),
    maj AS (
        SELECT cluster_id, label AS majority_label, n AS n_majority FROM (
            SELECT cluster_id, label, n,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY n DESC, label) AS rn
            FROM lab
        ) WHERE rn = 1
    ),
    tot AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM asg GROUP BY cluster_id
    )
    SELECT t.cluster_id, t.n_members, m.majority_label, m.n_majority,
           CAST(FLOOR(m.n_majority * 1000000.0 / t.n_members) AS BIGINT) AS purity_e6
    FROM tot t JOIN maj m USING (cluster_id)
    ORDER BY cluster_id
    """


@register("x3_label_purity", oracle=_label_purity_oracle(), survey_ids=("X3", "A1"))
def x3_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit: per k-means cluster, the majority label and
    its purity — clusters with low purity (or members disagreeing with
    a high-purity majority) are where mislabeled examples live
    (the Confident-Learning-style screen, run geometrically). On the
    fixture's random embeddings purity sits near 1/|labels| by
    construction; the computation — counts, ranked majority with a
    deterministic tiebreak, one float division — is what the oracle
    hashes. Composes the exact-integer clustering, so the whole audit
    is engine-reproducible."""
    from pyspark.sql import Window

    asg = kmeans_assignments(spark, sf_dir).select("vec_id", "cluster_id", "label")
    lab = asg.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), "label")
    maj = (
        lab.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    tot = asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        tot.join(maj, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            "majority_label",
            "n_majority",
            F.floor(F.col("n_majority") * 1000000.0 / F.col("n_members"))
            .cast("long")
            .alias("purity_e6"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou et al. 2011, the standard embedding
# compression for billion-scale ANN (IVF-PQ). 64 dims → M=8 subspaces ×
# 8 dims, K=16 codewords per subspace: 64 floats become 8 nibble codes
# (64x smaller + asymmetric-distance search ready).
# ---------------------------------------------------------------------------
PQ_M = 8       # subspaces
PQ_SUBDIM = 8  # dims per subspace (PQ_M * PQ_SUBDIM == DIM)
PQ_K = 16      # codewords per subspace


def _pq_oracle(m: int = PQ_M, sub: int = PQ_SUBDIM, k: int = PQ_K) -> str:
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(FLOOR(x * {QSCALE}) AS BIGINT)) AS q
        FROM embeddings
    ),
    init AS (
        SELECT vec_id, q, md5(CAST(vec_id AS VARCHAR)) AS h
        FROM e ORDER BY h, vec_id LIMIT {k}
    ),
    codes AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS INT) AS j, q
        FROM init
    ),
    cb AS (
        SELECT j, mm.m AS m,
               list_slice(q, mm.m * {sub} + 1, mm.m * {sub} + {sub}) AS c
        FROM codes CROSS JOIN range(0, {m}) mm(m)
    ),
    d AS (
        SELECT e.vec_id, cb.m, cb.j,
               CAST(list_sum(list_transform(range(1, {sub + 1}),
                    i -> (e.q[cb.m * {sub} + i] - cb.c[i])
                       * (e.q[cb.m * {sub} + i] - cb.c[i]))) AS BIGINT) AS d
        FROM e CROSS JOIN cb
    ),
    best AS (
        SELECT vec_id, m, j, d FROM (
            SELECT vec_id, m, j, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
            FROM d
        ) WHERE rn = 1
    )
    SELECT vec_id,
           STRING_AGG(j, ',' ORDER BY m) AS codes_csv,
           CAST(SUM(d) AS BIGINT) AS recon_err
    FROM best
    GROUP BY vec_id
    ORDER BY vec_id
    """


@register("x3_pq_codes", oracle=_pq_oracle(), survey_ids=("X3",))
def x3_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: each vector's 8 subspaces snap to
    the nearest of 16 codewords (codebook = the 16 md5-lowest vectors'
    sub-vectors — the same deterministic seeding as k-means init; a
    production build trains each codebook with per-subspace Lloyd
    rounds, which is `kmeans_assignments` restricted to a slice).
    Output: the nibble codes (CSV, engine-portable) + exact integer
    reconstruction error.

    All distances are BIGINT Σ(q−c)² over quantized coords, so codes
    AND errors hash engine-identically; ties break to the lowest code.
    One Arrow pass over the corpus with the 16×64 codebook in the task
    closure — scan-side, zero shuffle, the 100 TB-compression shape
    (storage drops 64×; IVF-PQ probes then scan codes, not floats)."""
    emb = _quantized(spark, sf_dir)
    seed = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(PQ_K)
        .collect()
    )
    cbook = [list(r.q) for r in seed]  # K×DIM

    def encode(batches):
        import numpy as np
        import pandas as pd

        cb = np.array(cbook, dtype=np.int64).reshape(-1, PQ_M, PQ_SUBDIM)
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64).reshape(
                -1, PQ_M, PQ_SUBDIM
            )
            # d[n, m, j] = Σ_i (q[n,m,i] − cb[j,m,i])² — exact int64
            diff = q[:, None, :, :] - cb[None, :, :, :]
            d = (diff * diff).sum(axis=3)  # N×K×M
            codes = d.argmin(axis=1)  # N×M, first (lowest) j on ties
            err = d.min(axis=1).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes_csv": [",".join(map(str, row)) for row in codes],
                    "recon_err": err,
                }
            )

    return (
        emb.select("vec_id", "q")
        .mapInPandas(encode, "vec_id long, codes_csv string, recon_err long")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# IVF-PQ asymmetric-distance search (ADC): the billion-scale ANN serving
# shape — coarse quantizer prunes to n_probe lists, PQ codes stand in
# for vectors, distances come from a query-side lookup table.
# ---------------------------------------------------------------------------
IVFPQ_NPROBE = 2
IVFPQ_K = 10


def _ivfpq_oracle(
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
    dim: int = DIM,
    m: int = PQ_M,
    sub: int = PQ_SUBDIM,
    pk: int = PQ_K,
    nprobe: int = IVFPQ_NPROBE,
    topk: int = IVFPQ_K,
) -> str:
    return f"""
    WITH {_kmeans_cte(k, rounds, dim)},
    {_duck_q0("q", "e", "qv")},
    listrank AS (
        SELECT c.cluster_id,
               ROW_NUMBER() OVER (ORDER BY
                   CAST(list_sum(list_transform(range(1, {dim + 1}),
                        i -> (qv.q[i] - c.c[i]) * (qv.q[i] - c.c[i]))) AS BIGINT),
                   c.cluster_id) AS rn
        FROM c{rounds} c CROSS JOIN qv
    ),
    probe AS (SELECT cluster_id FROM listrank WHERE rn <= {nprobe}),
    cand AS (
        SELECT a.vec_id FROM a{rounds} a
        WHERE a.cluster_id IN (SELECT cluster_id FROM probe)
          AND a.vec_id <> 0
    ),
    pinit AS (
        SELECT vec_id, q, md5(CAST(vec_id AS VARCHAR)) AS h
        FROM e ORDER BY h, vec_id LIMIT {pk}
    ),
    pcodes AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS INT) AS j, q
        FROM pinit
    ),
    cb AS (
        SELECT j, mm.m AS m,
               list_slice(q, mm.m * {sub} + 1, mm.m * {sub} + {sub}) AS c
        FROM pcodes CROSS JOIN range(0, {m}) mm(m)
    ),
    cdist AS (
        SELECT e.vec_id, cb.m, cb.j,
               CAST(list_sum(list_transform(range(1, {sub + 1}),
                    i -> (e.q[cb.m * {sub} + i] - cb.c[i])
                       * (e.q[cb.m * {sub} + i] - cb.c[i]))) AS BIGINT) AS d
        FROM e JOIN cand USING (vec_id) CROSS JOIN cb
    ),
    best AS (
        SELECT vec_id, m, j FROM (
            SELECT vec_id, m, j,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
            FROM cdist
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT cb.m, cb.j,
               CAST(list_sum(list_transform(range(1, {sub + 1}),
                    i -> (qv.q[cb.m * {sub} + i] - cb.c[i])
                       * (qv.q[cb.m * {sub} + i] - cb.c[i]))) AS BIGINT) AS d
        FROM cb CROSS JOIN qv
    ),
    adc AS (
        SELECT best.vec_id, SUM(lut.d) AS adc_dist
        FROM best JOIN lut ON lut.m = best.m AND lut.j = best.j
        GROUP BY best.vec_id
    ),
    exact AS (
        SELECT e.vec_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                    i -> (e.q[i] - qv.q[i]) * (e.q[i] - qv.q[i]))) AS BIGINT)
                   AS exact_dist
        FROM e JOIN cand USING (vec_id) CROSS JOIN qv
    )
    SELECT adc.vec_id,
           CAST(adc.adc_dist AS BIGINT) AS adc_dist,
           exact.exact_dist
    FROM adc JOIN exact ON exact.vec_id = adc.vec_id
    ORDER BY adc.adc_dist, adc.vec_id
    LIMIT {topk}
    """


@register("x3_ivfpq_adc_topk", oracle=_ivfpq_oracle(), survey_ids=("X3",))
def x3_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search with asymmetric distance computation — the
    composition that serves billion-vector ANN in production (Jégou et
    al. 2011; FAISS's IVFPQ): the exact-integer Lloyd model is the
    coarse quantizer (2 of 8 lists probed), candidates are scored by
    their PQ codes against a query-side 8×16 lookup table (one BIGINT
    add per subspace instead of a 64-dim distance), and the top-10 by
    ADC distance returns with the true exact distance alongside (the
    judgeable ADC-vs-exact gap).

    Every stage is exact integer arithmetic over the shared quantized
    relation, so list ranking, candidate pruning, PQ codes, the LUT,
    and the final ranking all hash engine-identically. Scale shape: the
    probed lists are partition directories (`ann_index.py` persists the
    float-tier variant); ADC reads 8 bytes of codes per candidate, not
    512 — the I/O win that makes 100 TB ANN affordable."""
    emb, cents = kmeans_model(spark, sf_dir)
    q = query_vector(emb, col="q")
    probe = _rank_centroids(q, cents)[:IVFPQ_NPROBE]
    asg = _assign(emb, cents).filter(
        F.col("cluster_id").isin(probe) & (F.col("vec_id") != 0)
    )
    cand = emb.join(asg.select("vec_id"), "vec_id", "left_semi")
    seed = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(PQ_K)
        .collect()
    )
    cbook = [list(r.q) for r in seed]
    qvec = q

    def adc(batches):
        import numpy as np
        import pandas as pd

        cb = np.array(cbook, dtype=np.int64).reshape(-1, PQ_M, PQ_SUBDIM)
        # no query row means no candidate ever reaches this stage
        qm = np.zeros(PQ_M * PQ_SUBDIM, np.int64) if qvec is None else np.array(qvec, np.int64)
        qsub = qm.reshape(PQ_M, PQ_SUBDIM)
        # lut[m, j] = |q_m − cb[j, m]|²  (exact int64)
        lut = ((qsub[None, :, :] - cb) ** 2).sum(axis=2).T  # M×K
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            vs = v.reshape(-1, PQ_M, PQ_SUBDIM)
            diff = vs[:, None, :, :] - cb[None, :, :, :]
            codes = (diff * diff).sum(axis=3).argmin(axis=1)  # N×M
            adc_d = lut[np.arange(PQ_M)[None, :], codes].sum(axis=1)
            exact_d = ((v - qm[None, :]) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "adc_dist": adc_d,
                    "exact_dist": exact_d,
                }
            )

    return (
        cand.select("vec_id", "q")
        .mapInPandas(adc, "vec_id long, adc_dist long, exact_dist long")
        .orderBy("adc_dist", "vec_id")
        .limit(IVFPQ_K)
    )


# ---------------------------------------------------------------------------
# Embedding-space dimension covariance — exact integer Gram matrix
# ---------------------------------------------------------------------------
#: Covariance quantization: 3 decimal digits. Coarser than the k-means
#: QSCALE (1e4) ON PURPOSE: the Gram accumulator holds n·Σ(q_i·q_j)
#: which at 1e3 stays < 1e16 through sf1 fixtures (int64 ceiling
#: 9.2e18) — the scale knob trades 1e-3 input precision for ~1000x
#: row-count headroom. Production beyond that: per-shard Gram partials
#: are d², so re-centering per shard (or DECIMAL(38)) lifts the bound.
COV_SCALE = 1_000


@register(
    "x3_dim_covariance",
    oracle=f"""
    WITH dims AS (SELECT UNNEST(RANGE(0, {DIM})) AS i),
    q AS (
        SELECT vec_id, i,
               CAST(FLOOR(embedding[CAST(i + 1 AS INT)]::DOUBLE * {COV_SCALE})
                    AS BIGINT) AS xq
        FROM embeddings, dims
    ),
    cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    sums AS (SELECT i, CAST(SUM(xq) AS BIGINT) AS sx FROM q GROUP BY i),
    pairs AS (
        SELECT a.i AS i, b.i AS j, CAST(SUM(a.xq * b.xq) AS BIGINT) AS sxy
        FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i
    )
    SELECT p.i, p.j, cnt.n,
           CAST(cnt.n * p.sxy - sa.sx * sb.sx AS BIGINT) AS cov_num,
           ROUND((cnt.n * p.sxy - sa.sx * sb.sx)
                 / ({COV_SCALE * COV_SCALE}.0 * cnt.n * cnt.n), 8) AS cov
    FROM pairs p
    CROSS JOIN cnt
    JOIN sums sa ON sa.i = p.i
    JOIN sums sb ON sb.i = p.j
    ORDER BY p.i, p.j
    """,
    survey_ids=("X3",),
)
def x3_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-covariance matrix of the embedding corpus — the input
    to PCA whitening / anisotropy diagnostics (is the space collapsing
    onto a few directions?). Upper triangle of the d×d matrix, exact:
    coordinates quantize once (⌊v·10³⌋, same FLOOR convention as the
    k-means pipeline above) and everything after is order-independent
    BIGINT arithmetic, so DuckDB hashes it value-for-value via
    cov_num = n·Σxy − Σx·Σy.

    Shape — the 100 TB-relevant part: per PARTITION, one Arrow batch
    stage computes the integer Gram matrix Qᵀ·Q with a d×d numpy int64
    matmul (mirroring the k-means assignment matmul), yielding d²/2
    partial rows per partition regardless of row count. The only
    shuffle is the (i, j)-keyed sum of those partials — d²-bounded,
    corpus-size-independent. The naive explode-and-self-join (what the
    oracle does) would shuffle n·d² rows; the partial-Gram shape
    shuffles partitions·d². Eigendecomposition of the 64×64 result is
    driver-side model math, out of engine scope."""
    emb = t(spark, sf_dir, "embeddings").select("embedding")

    # COV_SCALE rides in as a default arg so the closure stays
    # self-contained (no module-global refs on executor workers) while
    # the documented knob still controls the kernel quantization.
    def gram(batches, _scale=float(COV_SCALE)):
        import numpy as np  # local: self-contained for executor workers
        import pandas as pd

        acc = None
        sx = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.floor(M * _scale).astype(np.int64)
            g = Q.T @ Q
            acc = g if acc is None else acc + g
            s = Q.sum(axis=0)
            sx = s if sx is None else sx + s
            n += Q.shape[0]
        if n:
            iu, ju = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu.astype("int64"),
                    "j": ju.astype("int64"),
                    "sxy": acc[iu, ju],
                    "sx_i": sx[iu],
                    "sx_j": sx[ju],
                    "n": np.int64(n),
                }
            )

    parts = emb.mapInPandas(
        gram, "i long, j long, sxy long, sx_i long, sx_j long, n long"
    )
    agg = parts.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("sx_i").alias("sx"),
        F.sum("sx_j").alias("sy"),
        F.sum("n").alias("n"),
    )
    cov_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        "i",
        "j",
        "n",
        cov_num.cast("long").alias("cov_num"),
        F.round(
            cov_num / (float(COV_SCALE * COV_SCALE) * F.col("n") * F.col("n")), 8
        ).alias("cov"),
    ).orderBy("i", "j")


# ---------------------------------------------------------------------------
# Leading principal component via fixed power iteration
# ---------------------------------------------------------------------------

#: Power-iteration rounds. Convergence rate is (λ2/λ1)^k; 12 rounds of
#: exact integer iteration with e6 renormalization pins the leading
#: direction far below the e6 floor on the fixture spectrum — and the
#: schedule is FIXED, so both engines run the identical arithmetic
#: (the LPA/Markov fixed-schedule contract).
PCA_ITERS = 12


def _pca_oracle() -> str:
    """Unrolled power iteration over the exact integer covariance
    numerators (same CTEs as x3_dim_covariance's oracle), HUGEINT
    matvec + pmod floor renormalization each round."""
    steps = [
        f"""
    cmat AS MATERIALIZED (
        SELECT i, j, cov_num FROM covu
        UNION ALL
        SELECT j AS i, i AS j, cov_num FROM covu WHERE i <> j
    ),
    v0 AS (SELECT UNNEST(RANGE(0, {DIM})) AS i, CAST(1000000 AS HUGEINT) AS v)"""
    ]
    for k in range(1, PCA_ITERS + 1):
        steps.append(f"""
    w{k} AS MATERIALIZED (
        SELECT c.i, SUM(CAST(c.cov_num AS HUGEINT) * pv.v) AS w
        FROM cmat c JOIN v{k - 1} pv ON pv.i = c.j
        GROUP BY c.i
    ),
    m{k} AS (SELECT MAX(ABS(w)) AS m FROM w{k}),
    v{k} AS (
        SELECT w.i,
               (w.w * 1000000 - ((w.w * 1000000 % m.m + m.m) % m.m)) // m.m AS v
        FROM w{k} w, m{k} m
    )""")
    return ",".join(steps)


#: Shared PCA WITH-preamble: exact covariance numerators + the
#: unrolled power iteration, ending at relation v{PCA_ITERS}. Reused
#: by the train query (loadings) and the apply query (projection).
_PCA_WITH = f"""
    WITH dims AS (SELECT UNNEST(RANGE(0, {DIM})) AS i),
    q AS (
        SELECT vec_id, i,
               CAST(FLOOR(embedding[CAST(i + 1 AS INT)]::DOUBLE * {COV_SCALE})
                    AS BIGINT) AS xq
        FROM embeddings, dims
    ),
    cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    sums AS (SELECT i, CAST(SUM(xq) AS BIGINT) AS sx FROM q GROUP BY i),
    covu AS MATERIALIZED (
        SELECT p.i, p.j,
               CAST(cnt.n * p.sxy - sa.sx * sb.sx AS BIGINT) AS cov_num
        FROM (
            SELECT a.i AS i, b.i AS j, CAST(SUM(a.xq * b.xq) AS BIGINT) AS sxy
            FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY a.i, b.i
        ) p
        CROSS JOIN cnt
        JOIN sums sa ON sa.i = p.i
        JOIN sums sb ON sb.i = p.j
    ),
    {{pca}}
"""


@register(
    "x3_pca_power_iteration",
    oracle=_PCA_WITH.format(pca=_pca_oracle()) + f"""
    SELECT i AS dim_idx, CAST(v AS BIGINT) AS loading_e6
    FROM v{PCA_ITERS}
    ORDER BY dim_idx
    """,
    survey_ids=("X3", "A1"),
)
def x3_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding corpus by power
    iteration — the anisotropy diagnostic ("is the embedding space
    collapsing onto one direction?", Ethayarajh 2019) and the first
    step of PCA whitening, computed WITHOUT any linear-algebra
    library: 12 fixed rounds of v <- C·v with max-abs e6
    renormalization, all exact integer arithmetic (HUGEINT products /
    Python unbounded ints; renormalization by the pmod floor-division
    idiom), so the final loadings hash engine-identically despite
    being an iterative numeric method.

    Scale split, stated precisely: the DISTRIBUTED work is the
    covariance — the same d²-bounded Arrow Gram partials as
    `x3_dim_covariance` (each partition emits d²/2 integer rows
    regardless of row count; one (i,j)-keyed sum). The ITERATION runs
    driver-side on the collected d×d matrix (64² = 4096 cells — the
    bounded model fetch, k-means-centroid idiom); its cost is
    independent of corpus size by construction. v0 = all-ones e6."""
    rows = sorted(pc1_loading(spark, sf_dir).items())
    return spark.createDataFrame(rows, "dim_idx long, loading_e6 long")


def pc1_loading(spark: SparkSession, sf_dir: str) -> dict[int, int]:
    """Leading-component loadings (dim -> e6 int) — the driver-side
    model the apply-stage queries broadcast back into column space.
    An empty corpus has no covariance and no loadings."""
    cov = (
        x3_dim_covariance(spark, sf_dir)
        .select("i", "j", "cov_num")
        .collect()  # bounded: d(d+1)/2 = 2080 integer cells
    )
    C: dict[tuple[int, int], int] = {}
    for r in cov:
        i, j, c = int(r["i"]), int(r["j"]), int(r["cov_num"])
        C[(i, j)] = c
        if i != j:
            C[(j, i)] = c
    if not C:
        return {}
    v = {i: 1_000_000 for i in range(DIM)}
    for _ in range(PCA_ITERS):
        w = {
            i: sum(C[(i, j)] * v[j] for j in range(DIM)) for i in range(DIM)
        }
        m = max(abs(x) for x in w.values())
        v = {i: (w[i] * 1_000_000) // m for i in range(DIM)}
    return v


#: Projection histogram bucket width (raw-score units: quantized
#: coordinate (e3) × loading (e6) summed over 64 dims; fixture scores
#: span ~±1.2e9, so 1e8 gives ~24 buckets).
PC1_BUCKET = 100_000_000


@register(
    "x3_pc1_projection_histogram",
    oracle=_PCA_WITH.format(pca=_pca_oracle()) + f"""
    ,
    proj AS (
        SELECT q.vec_id, CAST(SUM(q.xq * v.v) AS BIGINT) AS score
        FROM q JOIN v{PCA_ITERS} v ON v.i = q.i
        GROUP BY q.vec_id
    )
    SELECT CAST((score - ((score % {PC1_BUCKET} + {PC1_BUCKET})
                          % {PC1_BUCKET})) // {PC1_BUCKET} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM proj
    GROUP BY bucket
    ORDER BY bucket
    """,
    survey_ids=("X3", "A1", "F6"),
)
def x3_pc1_projection_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of the PCA pair: project every embedding onto
    the trained leading component (`pc1_loading`) and histogram the
    scores — the anisotropy picture itself (a collapsed space shows
    one heavy lobe), and the shape of every model-train-then-apply
    composition: the model is a 64-int broadcast LITERAL baked into a
    pure Catalyst expression (`zip_with` + `aggregate` over the
    quantized coordinates — whole-stage codegen, no Python, no
    shuffle until the bucket count). Scores are exact integers
    (e3-quantized coordinate × e6 loading, summed); buckets use the
    pmod floor-division idiom since projections go negative. At
    100 TB this is one scan + one bucket-keyed map-combined
    aggregate."""
    lits = F.array(*[F.lit(int(x)) for _, x in sorted(pc1_loading(spark, sf_dir).items())])
    emb = t(spark, sf_dir, "embeddings")
    score = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            lits,
            lambda e, l: F.floor(e.cast("double") * COV_SCALE).cast("long") * l,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        emb.select(score.alias("score"))
        .select(
            F.expr(
                f"(score - pmod(score, {PC1_BUCKET})) div {PC1_BUCKET}"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        .orderBy("bucket")
    )


# ===========================================================================
# IVF n_probe recall sweep (the IVF twin of the LSH band tuning curve —
# the knob-vs-recall table an ANN deployment reads before fixing n_probe)
# ===========================================================================

#: Probe counts swept (k=8 lists: 8 probes == exhaustive, the sanity row).
IVF_SWEEP_PROBES = (1, 2, 4, 8)
IVF_SWEEP_K = 10


def _ivf_sweep_oracle(
    k: int = KMEANS_K, rounds: int = KMEANS_ROUNDS, dim: int = DIM
) -> str:
    qdist = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (e.q[i] - q0.q[i]) * (e.q[i] - q0.q[i]))) AS BIGINT)"
    )
    cdist = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (c.c[i] - q0.q[i]) * (c.c[i] - q0.q[i]))) AS BIGINT)"
    )
    cfgs = []
    for np_ in IVF_SWEEP_PROBES:
        cfgs.append(f"""
    SELECT CAST({np_} AS BIGINT) AS n_probe,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{np_})
               AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM (SELECT vec_id FROM cand{np_} JOIN exact USING (vec_id)
                  ORDER BY d, vec_id LIMIT {IVF_SWEEP_K}) t
            JOIN exact_top USING (vec_id)) AS recalled_at_{IVF_SWEEP_K},
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM (SELECT vec_id FROM cand{np_} JOIN exact USING (vec_id)
                  ORDER BY d, vec_id LIMIT {IVF_SWEEP_K}) t
            JOIN exact_top USING (vec_id)) * 1000000 // {IVF_SWEEP_K}
               AS recall_e6""")
    cand_ctes = ",".join(
        f"""
    cand{np_} AS (
        SELECT a.vec_id FROM a{rounds} a JOIN prank p USING (cluster_id)
        WHERE p.pr <= {np_} AND a.vec_id <> 0
    )"""
        for np_ in IVF_SWEEP_PROBES
    )
    return f"""
    WITH {_kmeans_cte(k, rounds, dim)},
    {_duck_q0("q", "e", "q0")},
    exact AS (
        SELECT e.vec_id, {qdist} AS d FROM e, q0 WHERE e.vec_id <> 0
    ),
    exact_top AS (
        SELECT vec_id FROM exact ORDER BY d, vec_id LIMIT {IVF_SWEEP_K}
    ),
    cdist AS (
        SELECT c.cluster_id, {cdist} AS d FROM c{rounds} c, q0
    ),
    prank AS (
        SELECT cluster_id, ROW_NUMBER() OVER (ORDER BY d, cluster_id) AS pr
        FROM cdist
    ),
    {cand_ctes}
    SELECT * FROM ({" UNION ALL ".join(cfgs)})
    ORDER BY n_probe
    """


@register(
    "x3_ivf_nprobe_recall_sweep",
    oracle=_ivf_sweep_oracle(),
    survey_ids=("X3", "A1", "O4", "W1"),
)
def x3_ivf_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 vs n_probe for the IVF coarse quantizer (the k-means
    model above): for each probe count, restrict candidates to the
    n_probe lists nearest the query and measure how many of the exact
    top-10 survive — the IVF twin of `x2_lsh_band_tuning_curve`, and
    the table that fixes the n_probe knob before an ANN rollout
    (n_probe = k is the exhaustive sanity row: recall must be 10/10).

    Exactness: everything runs on the e4-quantized integer grid —
    distances are BIGINT Σ(q−q0)², rankings are (d, vec_id) total
    orders, and the k-means model is the exact-integer Lloyd chain the
    oracle unrolls, so every recall cell is hash-checked, not
    self-reported. Scale: one corpus pass scores distances; per-config
    work is a broadcast semi join against the ≤k probed list ids +
    TakeOrdered top-10; the probe ORDER itself is k-row model math
    solved driver-side (centroids are already a collected model)."""
    emb, cents = kmeans_model(spark, sf_dir)
    q0 = query_vector(emb, col="q")
    q0col = F.array(*[F.lit(x) for x in q0 or []])
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", _sqdist(F.col("q"), q0col).alias("d"))
        .localCheckpoint(eager=True)  # reused by every config
    )
    exact_top = exact.orderBy("d", "vec_id").limit(IVF_SWEEP_K).select("vec_id")
    assign = _assign(emb, cents).select("vec_id", "cluster_id")
    ranked_cids = _rank_centroids(q0, cents)
    outs = []
    for np_ in IVF_SWEEP_PROBES:
        probed = ranked_cids[:np_]
        cands = assign.filter(
            F.col("cluster_id").isin(probed) & (F.col("vec_id") != 0)
        ).select("vec_id")
        scored = cands.join(exact, "vec_id")
        atop = scored.orderBy("d", "vec_id").limit(IVF_SWEEP_K).select("vec_id")
        hits = atop.join(F.broadcast(exact_top), "vec_id")
        row = (
            cands.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
            .crossJoin(
                hits.agg(
                    F.count(F.lit(1))
                    .cast("long")
                    .alias(f"recalled_at_{IVF_SWEEP_K}")
                )
            )
            .select(
                F.lit(np_).cast("long").alias("n_probe"),
                "n_candidates",
                f"recalled_at_{IVF_SWEEP_K}",
                F.expr(
                    f"recalled_at_{IVF_SWEEP_K} * 1000000 div {IVF_SWEEP_K}"
                ).alias("recall_e6"),
            )
        )
        outs.append(row)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("n_probe")


# ---------------------------------------------------------------------------
# k-means k sweep (the elbow curve behind KMEANS_K / IVF list count)
# ---------------------------------------------------------------------------

#: Swept cluster counts (8 = the registered single point KMEANS_K).
KMEANS_K_SWEEP = (2, 4, 8, 16)


def _k_sweep_oracle() -> str:
    r = KMEANS_ROUNDS
    chains, arms = [], []
    for k in KMEANS_K_SWEEP:
        p = f"k{k}_"
        chains.append(_kmeans_cte(k, r, DIM, prefix=p))
        arms.append(f"""
        SELECT CAST({k} AS BIGINT) AS k,
               CAST(SUM(d) AS BIGINT) AS sse_q_total,
               CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_nonempty,
               CAST(MAX(cn) * 1000000 // COUNT(*) AS BIGINT) AS max_share_ppm
        FROM (
            SELECT vec_id, cluster_id, d,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS cn
            FROM {p}a{r}
        )""")
    union = "\n        UNION ALL\n".join(arms)
    return f"WITH {','.join(chains)}\n    SELECT * FROM ({union}) ORDER BY k"


@register(
    "x3_kmeans_k_sweep",
    oracle=_k_sweep_oracle(),
    survey_ids=("X3", "A1"),
)
def x3_kmeans_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The elbow curve behind every quantizer knob in the repo
    (KMEANS_K, the IVF coarse-list count, the PQ codebook size): run
    the SAME fixed-iteration md5-seeded integer k-means at k=2/4/8/16
    and report total within-cluster squared distance (exact integer —
    the elbow), non-empty cluster count, and the biggest cluster's
    row share (the IVF list-balance number: a dominant list means
    probes scan it every query). Distortion falls monotonically in k
    while balance typically worsens — where the SSE curve flattens is
    where KMEANS_K earns its value.

    Each k trains independently (seeding the same first-k of the
    md5-ordered init, Lloyd rounds unrolled identically in both
    engines — the `x3_kmeans_clusters` discipline); per k the model is
    k x dim integers on the driver, the data-side work is linear
    scans. The oracle runs four namespaced unrolled CTE chains."""
    parts = []
    for k in KMEANS_K_SWEEP:
        a = kmeans_assignments(spark, sf_dir, k=k)
        cn = a.groupBy("cluster_id").agg(
            F.count(F.lit(1)).cast("long").alias("cn")
        )
        parts.append(
            a.join(F.broadcast(cn), "cluster_id")
            .groupBy()
            .agg(
                F.lit(k).cast("long").alias("k"),
                F.sum("dist_q").cast("long").alias("sse_q_total"),
                F.count_distinct("cluster_id").cast("long").alias("n_nonempty"),
                F.expr("CAST(MAX(cn) * 1000000 div COUNT(1) AS LONG)").alias(
                    "max_share_ppm"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# IVF index staleness audit
# ---------------------------------------------------------------------------

#: The "pre-append corpus" slice: the stale coarse quantizer is
#: trained on vec_id % 10 != 0 (90%); the % 10 == 0 decile models the
#: appended batch an IVF index serves without retraining.
IVF_OLD_WHERE = "vec_id % 10 != 0"


def _ivf_staleness_oracle() -> str:
    k, rounds, dim = KMEANS_K, KMEANS_ROUNDS, DIM
    dist = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS BIGINT)"
    )
    return f"""
    WITH {_kmeans_cte(k, rounds, dim, prefix="s_",
                      where=f"WHERE {IVF_OLD_WHERE}")},
    {_kmeans_cte(k, rounds, dim)},
    sall AS (
        SELECT vec_id, cluster_id, d FROM (
            SELECT e.vec_id, c.cluster_id, {dist} AS d,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist}, c.cluster_id) AS rn
            FROM e, s_c{rounds} c
        ) WHERE rn = 1
    ),
    per_list AS (
        SELECT cluster_id,
               CAST(COUNT(*) FILTER (WHERE vec_id % 10 != 0) AS BIGINT)
                   AS n_old,
               CAST(COUNT(*) FILTER (WHERE vec_id % 10 = 0) AS BIGINT)
                   AS n_new,
               CAST(SUM(d) FILTER (WHERE vec_id % 10 != 0) AS BIGINT)
                   AS d_old,
               CAST(SUM(d) FILTER (WHERE vec_id % 10 = 0) AS BIGINT)
                   AS d_new
        FROM sall GROUP BY cluster_id
    ),
    costs AS (
        SELECT
            (SELECT CAST(SUM(d) // COUNT(*) AS BIGINT) FROM sall)
                AS stale_mean,
            (SELECT CAST(SUM(d) // COUNT(*) AS BIGINT) FROM a{rounds})
                AS fresh_mean
    )
    SELECT p.cluster_id AS list_id, p.n_old, p.n_new,
           CAST(p.n_new * 1000000 // NULLIF(p.n_old, 0) AS BIGINT)
               AS growth_e6,
           CAST(p.d_old // NULLIF(p.n_old, 0) AS BIGINT) AS mean_qerr_old,
           CAST(p.d_new // NULLIF(p.n_new, 0) AS BIGINT) AS mean_qerr_new,
           CAST((c.stale_mean - c.fresh_mean) * 1000000 // c.stale_mean
                AS BIGINT) AS retrain_gain_e6
    FROM per_list p CROSS JOIN costs c
    ORDER BY list_id
    """


@register(
    "x3_ivf_staleness_audit",
    oracle=_ivf_staleness_oracle(),
    survey_ids=("X3", "A1", "F6"),
)
def x3_ivf_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance: after an append, is the coarse quantizer
    stale? Train the STALE model on the pre-append 90% (vec_id decile
    slice), assign the FULL corpus to it, and report per list: old/new
    occupancy, growth ratio, and mean quantization error of old vs new
    vectors (new vectors sitting farther from their centroid = the
    distribution drifted); plus the retrain gain — how much the mean
    quantization cost drops under centroids retrained on everything
    (permutation-FREE metrics throughout: two independently trained
    models cannot be compared by cluster id, so the audit never does).
    This is `x2_dedup_incremental`'s question asked of the ANN family:
    when does the persisted index need rebuilding? Exactness: both
    trainings are the exact-integer Lloyd chain; means are integer
    divisions (NULLIF guards empty lists in both engines identically).
    Scale: two model trainings (k·dim collects only) + two
    assignment scans; gain uses MEAN costs so the e6 scaling stays in
    int64 at any corpus size."""
    emb, fresh_c = kmeans_model(spark, sf_dir)  # full-corpus model
    _, stale_c = kmeans_model(spark, sf_dir, where=IVF_OLD_WHERE)
    sall = _assign(emb, stale_c).localCheckpoint(eager=True)
    fall = _assign(emb, fresh_c)
    is_old = F.expr(IVF_OLD_WHERE)
    per_list = sall.groupBy("cluster_id").agg(
        F.count(F.when(is_old, 1)).cast("long").alias("n_old"),
        F.count(F.when(~is_old, 1)).cast("long").alias("n_new"),
        F.sum(F.when(is_old, F.col("dist_q"))).cast("long").alias("d_old"),
        F.sum(F.when(~is_old, F.col("dist_q"))).cast("long").alias("d_new"),
    )
    stale_mean = sall.agg(
        F.expr("sum(dist_q) div count(1)").alias("stale_mean")
    )
    fresh_mean = fall.agg(
        F.expr("sum(dist_q) div count(1)").alias("fresh_mean")
    )
    costs = stale_mean.crossJoin(F.broadcast(fresh_mean))
    return (
        per_list.crossJoin(F.broadcast(costs))
        .select(
            F.col("cluster_id").cast("long").alias("list_id"),
            "n_old",
            "n_new",
            F.expr("n_new * 1000000 div nullif(n_old, 0)")
            .cast("long")
            .alias("growth_e6"),
            F.expr("d_old div nullif(n_old, 0)")
            .cast("long")
            .alias("mean_qerr_old"),
            F.expr("d_new div nullif(n_new, 0)")
            .cast("long")
            .alias("mean_qerr_new"),
            F.expr(
                "(stale_mean - fresh_mean) * 1000000 div stale_mean"
            )
            .cast("long")
            .alias("retrain_gain_e6"),
        )
        .orderBy("list_id")
    )


# ---------------------------------------------------------------------------
# Centroid silhouette
# ---------------------------------------------------------------------------

_DEC = "decimal(38,0)"


@register(
    "x3_silhouette_centroid",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               GENERATE_SUBSCRIPTS(embedding::DOUBLE[], 1) AS pos,
               CAST(FLOOR(UNNEST(embedding::DOUBLE[]) * {QSCALE}) AS BIGINT) AS qv
        FROM embeddings
    ),
    sums AS MATERIALIZED (
        SELECT label, pos, CAST(SUM(qv) AS BIGINT) AS s FROM q GROUP BY label, pos
    ),
    cnt AS MATERIALIZED (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
    ),
    dist AS (
        SELECT p.vec_id, p.own, s.label AS cand,
               SUM((CAST(c.n AS HUGEINT) * p.qv - s.s)
                   * (CAST(c.n AS HUGEINT) * p.qv - s.s)) * 1000000
                   // (CAST(c.n AS HUGEINT) * c.n) AS dist_e6
        FROM (SELECT vec_id, label AS own, pos, qv FROM q) p
        JOIN sums s ON s.pos = p.pos
        JOIN cnt c ON c.label = s.label
        GROUP BY p.vec_id, p.own, s.label, c.n
    ),
    ab AS (
        SELECT vec_id, own,
               MAX(CASE WHEN cand = own THEN dist_e6 END) AS a,
               MIN(CASE WHEN cand <> own THEN dist_e6 END) AS b
        FROM dist GROUP BY vec_id, own
    ),
    sil AS (
        SELECT own,
               CASE WHEN GREATEST(SQRT(CAST(a AS DOUBLE)), SQRT(CAST(b AS DOUBLE))) > 0
                    THEN CAST(FLOOR((SQRT(CAST(b AS DOUBLE)) - SQRT(CAST(a AS DOUBLE)))
                                    * 1000000
                                    / GREATEST(SQRT(CAST(a AS DOUBLE)),
                                               SQRT(CAST(b AS DOUBLE))))
                         AS BIGINT)
                    ELSE 0 END AS s_e6
        FROM ab
    )
    SELECT own AS label,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(FLOOR(SUM(s_e6) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               AS mean_silhouette_e6
    FROM sil GROUP BY own ORDER BY label
    """,
    survey_ids=("X3",),
)
def x3_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid silhouette per label: a(i) = distance to own-label
    centroid, b(i) = distance to the nearest other-label centroid,
    s(i) = (b−a)/max(a,b) — the O(n·k) form of the cluster-quality
    score (the textbook all-pairs silhouette is O(n²) and would never
    survive 100 TB; the centroid form is one points×k pass, the
    k-means-assignment shape).

    Exactness: vectors are quantized once (q = ⌊v·10⁴⌋, the
    `clustering._quantized` contract); centroids are carried as the
    exact rational (Σq, n) pair so the squared distance to the mean,
    Σ_d(n·q_d − S_d)²/n², is computed in DECIMAL(38,0) integers and
    floor-scaled to e6 by integer division (positive numerator — `div`
    == floor). The only floats are sqrt/divide over those exact ints:
    identical IEEE inputs → identical doubles in both engines. The
    k×dim centroid matrix is a bounded model fetch (the k-means
    centroid-collect idiom), never a data-sized collect."""
    emb = _quantized(spark, sf_dir).localCheckpoint(eager=True)
    model_rows = (
        emb.select("label", F.posexplode("q").alias("pos", "qv"))
        .groupBy("label", "pos")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: |labels| × dim cells (model state, not data)
    )
    sums: dict[int, dict[int, int]] = {}
    counts: dict[int, int] = {}
    for r in model_rows:
        sums.setdefault(r["label"], {})[r["pos"]] = int(r["s"])
        counts[r["label"]] = int(r["n"])
    labels = sorted(counts)

    def dist_e6(lab: int):
        # Σ_d (n·q_d − S_d)² · 1e6 div n²  (all-integer, DECIMAL(38,0))
        n = counts[lab]
        svec = F.array(
            *[F.lit(sums[lab][p]).cast("long") for p in range(len(sums[lab]))]
        )
        sq = F.aggregate(
            F.zip_with(
                "q",
                svec,
                lambda qv, sv: (
                    (F.lit(n).cast(_DEC) * qv - sv)
                    * (F.lit(n).cast(_DEC) * qv - sv)
                ),
            ),
            F.lit(0).cast(_DEC),
            lambda acc, x: acc + x,
        )
        num = (sq * F.lit(1_000_000).cast(_DEC)).cast(_DEC)
        return num.alias(f"_num{lab}")

    with_d = emb.select(
        "label", "q", *[dist_e6(lab) for lab in labels]
    )
    for lab in labels:
        n = counts[lab]
        with_d = with_d.withColumn(
            f"_d{lab}",
            F.expr(f"_num{lab} div CAST({n * n} AS DECIMAL(38,0))"),
        )
    # the trailing NULL keeps both coalesces well-formed with no label
    a_col = F.coalesce(
        *[F.when(F.col("label") == lab, F.col(f"_d{lab}")) for lab in labels],
        F.lit(None),
    )
    b_col = F.coalesce(
        *[
            F.when(
                F.col("label") == lab,
                F.least(*[F.col(f"_d{x}") for x in labels if x != lab]),
            )
            for lab in labels
        ],
        F.lit(None),
    )
    sa = F.sqrt(F.col("a").cast("double"))
    sb = F.sqrt(F.col("b").cast("double"))
    sil = (
        with_d.select("label", a_col.alias("a"), b_col.alias("b"))
        .select(
            "label",
            F.when(
                F.greatest(sa, sb) > 0,
                F.floor((sb - sa) * 1_000_000 / F.greatest(sa, sb)).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("s_e6"),
        )
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.floor(
                F.sum("s_e6").cast("double") / F.count(F.lit(1)).cast("double")
            )
            .cast("long")
            .alias("mean_silhouette_e6"),
        )
        .orderBy("label")
    )
