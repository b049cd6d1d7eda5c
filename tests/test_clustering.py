"""K-means / SemDeDup semantics on planted embeddings — the oracle
gate proves cross-engine hash identity; these prove the clustering
separates what it should and the dedup drops what it claims."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def blobs(spark, tmp_path_factory):
    """Two well-separated blobs in 64-dim: ids 0-9 near +e1, ids 10-19
    near -e1 (tiny deterministic per-id jitter on the second axis),
    plus one exact-duplicate pair inside blob A (ids 8 and 9)."""
    out = str(tmp_path_factory.mktemp("blobs"))
    rows = []
    for i in range(20):
        base = 1.0 if i < 10 else -1.0
        v = [0.0] * 64
        v[0] = base
        v[1] = 0.001 * (i % 7)  # jitter so vectors aren't all identical
        if i in (8, 9):
            v = [0.0] * 64
            v[0] = 1.0
            v[1] = 0.003  # ids 8 and 9: exact duplicates
        rows.append((i, [float(x) for x in v], i % 3))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    return out


def test_kmeans_separates_planted_blobs(spark, blobs):
    from etl_generator_demo_spark.operators.clustering import kmeans_assignments

    got = kmeans_assignments(spark, blobs, k=2, rounds=2).collect()
    by_id = {r.vec_id: r.cluster_id for r in got}
    assert len(by_id) == 20
    blob_a = {by_id[i] for i in range(10)}
    blob_b = {by_id[i] for i in range(10, 20)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b


def test_kmeans_is_deterministic_across_runs(spark, blobs):
    from etl_generator_demo_spark.operators.clustering import kmeans_assignments

    a = sorted(map(tuple, kmeans_assignments(spark, blobs, k=2, rounds=2).collect()))
    b = sorted(map(tuple, kmeans_assignments(spark, blobs, k=2, rounds=2).collect()))
    assert a == b  # exact-integer pipeline: bit-identical, not just close


def test_semdedup_drops_higher_id_of_near_identical_pair(spark, tmp_path_factory):
    from etl_generator_demo_spark.operators.clustering import x3_semdedup_keep

    out = str(tmp_path_factory.mktemp("dup"))
    rows = []
    for i in range(12):
        v = [0.0] * 64
        v[i] = 1.0  # pairwise orthogonal base corpus
        rows.append((i, [float(x) for x in v], 0))
    # id 12 duplicates id 3 exactly: the ONLY above-threshold pair
    v = [0.0] * 64
    v[3] = 1.0
    rows.append((12, [float(x) for x in v], 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    got = {r.vec_id: r.keep for r in x3_semdedup_keep(spark, out).collect()}
    # identical vectors always share a k-means cluster, so the pair is
    # visible to the within-cluster join; lower id survives
    assert got[3] is True
    assert got[12] is False
    assert sum(1 for k in got.values() if not k) == 1  # nothing else dropped


def test_semdedup_keeps_orthogonal_vectors(spark, tmp_path_factory):
    from etl_generator_demo_spark.operators.clustering import x3_semdedup_keep

    out = str(tmp_path_factory.mktemp("ortho"))
    rows = []
    for i in range(12):
        v = [0.0] * 64
        v[i] = 1.0  # pairwise orthogonal: cosine 0 < tau for every pair
        rows.append((i, [float(x) for x in v], 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    got = x3_semdedup_keep(spark, out).collect()
    assert all(r.keep for r in got)


def test_kmeans_handles_degenerate_corpus_fewer_points_than_k(spark, tmp_path_factory):
    """k=8 over 3 distinct vectors: most clusters go empty after the
    first update — the loop must drop them (both engines do) and still
    produce a deterministic total assignment."""
    from etl_generator_demo_spark.operators.clustering import kmeans_assignments

    out = str(tmp_path_factory.mktemp("degen"))
    rows = []
    for i in range(9):
        v = [0.0] * 64
        v[i % 3] = 1.0  # only 3 distinct positions
        rows.append((i, [float(x) for x in v], 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    got = kmeans_assignments(spark, out, k=8, rounds=2).collect()
    assert len(got) == 9
    # identical vectors always land in the same cluster
    by_axis = {}
    for r in got:
        by_axis.setdefault(r.vec_id % 3, set()).add(r.cluster_id)
    assert all(len(s) == 1 for s in by_axis.values())


@pytest.mark.slow
def test_random_projection_matches_numpy_exactly(spark, sf_dir):
    """The projection is exact integer arithmetic: recompute every
    output component with numpy int64 from the same md5 sign matrix
    and the same quantization — must be equal, not close."""
    import numpy as np

    from etl_generator_demo_spark.operators.clustering import (
        QSCALE,
        _rp_signs,
        x3_random_projection,
    )
    from etl_generator_demo_spark.catalog import read_table

    got = {
        r.vec_id: [int(x) for x in r.proj_csv.split(",")]
        for r in x3_random_projection(spark, sf_dir).collect()
    }
    signs = np.array(_rp_signs(), dtype=np.int64)  # (16, 64)
    for row in read_table(spark, sf_dir, "embeddings").limit(20).collect():
        q = np.floor(np.array(row.embedding, dtype=np.float64) * QSCALE).astype(np.int64)
        want = (signs @ q).tolist()
        assert got[row.vec_id] == want


@pytest.mark.slow
def test_ivfpq_adc_orders_by_lookup_table_distance(spark, sf_dir):
    """ADC invariants: rows sorted by adc_dist; every returned candidate
    sits in one of the 2 probed lists; ADC approximates exact distance
    from below AND above (it's quantized, not a bound) but correlates:
    the exact-nearest candidate among returned rows is near the top."""
    import etl_generator_demo_spark.operators.clustering as cl
    from etl_generator_demo_spark.registry import load_all

    rows = load_all()["x3_ivfpq_adc_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == cl.IVFPQ_K
    dists = [r.adc_dist for r in rows]
    assert dists == sorted(dists)
    assert all(r.vec_id != 0 for r in rows)
    # probed-list membership
    emb, cents = cl.kmeans_model(spark, sf_dir)
    from pyspark.sql import functions as F

    q = list(emb.filter(F.col("vec_id") == 0).select("q").first().q)
    ranked = sorted(
        (sum((a - b) * (a - b) for a, b in zip(q, c)), cid) for cid, c in cents
    )
    probe = {cid for _, cid in ranked[: cl.IVFPQ_NPROBE]}
    asg = {
        r.vec_id: r.cluster_id
        for r in cl._assign(emb, cents).collect()
    }
    for r in rows:
        assert asg[r.vec_id] in probe


def test_dim_covariance_exactness_and_psd_diag(spark, sf_dir):
    """Gram-partial covariance must equal the naive driver-side numpy
    computation on the same quantized ints, and variances (diagonal)
    must be non-negative."""
    import numpy as np

    from etl_generator_demo_spark.operators.clustering import (
        COV_SCALE,
        x3_dim_covariance,
    )
    from etl_generator_demo_spark.operators.relational import t

    rows = x3_dim_covariance(spark, sf_dir).collect()
    got = {(r["i"], r["j"]): r["cov_num"] for r in rows}
    n_out = rows[0]["n"]

    M = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in t(spark, sf_dir, "embeddings").select("embedding").collect()]
    )
    Q = np.floor(M * float(COV_SCALE)).astype(np.int64)
    n = Q.shape[0]
    assert n_out == n
    G = Q.T @ Q
    s = Q.sum(axis=0)
    for (i, j), cov_num in got.items():
        assert cov_num == n * G[i, j] - s[i] * s[j], (i, j)
        if i == j:
            assert cov_num >= 0
    d = M.shape[1]
    assert len(got) == d * (d + 1) // 2


def test_ivf_staleness_audit_consistency(spark, sf_dir):
    """Contracts: occupancy partitions the corpus (sum n_old+n_new ==
    |vectors|), retrain gain is non-negative (centroids trained on
    everything cannot have higher mean cost than centroids trained on
    a subset — Lloyd monotonicity doesn't guarantee this in general,
    but with shared seeding and the full population it holds on the
    fixture and is the number the audit exists to watch), and the
    deciles are sized 9:1."""
    from etl_generator_demo_spark.operators.relational import t
    from etl_generator_demo_spark.operators.clustering import (
        x3_ivf_staleness_audit,
    )

    rows = x3_ivf_staleness_audit(spark, sf_dir).collect()
    assert rows
    n_all = t(spark, sf_dir, "embeddings").count()
    assert sum(r["n_old"] + r["n_new"] for r in rows) == n_all
    n_new_total = sum(r["n_new"] for r in rows)
    assert abs(n_new_total - n_all // 10) <= 1
    gains = {r["retrain_gain_e6"] for r in rows}
    assert len(gains) == 1  # constant column
    for r in rows:
        if r["n_old"] and r["n_new"]:
            assert r["growth_e6"] == r["n_new"] * 1_000_000 // r["n_old"]
        assert r["mean_qerr_old"] is None or r["mean_qerr_old"] >= 0

@pytest.mark.slow
def test_kmeans_k_sweep_planted_elbow(spark, tmp_path):
    """8 distinct points: SSE is non-increasing in k, hits EXACTLY 0
    once k >= n (every point seeds its own cluster), and the non-empty
    count saturates at n."""
    from etl_generator_demo_spark.operators.clustering import (
        x3_kmeans_k_sweep,
    )

    rows = [
        (0, [100.0, 0.0], 0),
        (1, [101.0, 1.0], 0),
        (2, [99.0, 2.0], 0),
        (3, [102.0, 0.5], 0),
        (4, [0.0, 100.0], 1),
        (5, [1.0, 101.0], 1),
        (6, [2.0, 99.0], 1),
        (7, [0.5, 102.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["k"]: r for r in x3_kmeans_k_sweep(spark, str(tmp_path)).collect()}
    assert set(out) == {2, 4, 8, 16}
    sses = [out[k]["sse_q_total"] for k in (2, 4, 8, 16)]
    assert sses == sorted(sses, reverse=True)
    assert out[8]["sse_q_total"] == 0 and out[16]["sse_q_total"] == 0
    assert out[8]["n_nonempty"] == 8 and out[16]["n_nonempty"] == 8
    assert out[2]["n_nonempty"] == 2

def test_pq_seed_vectors_self_encode(spark, sf_dir):
    """Each codebook seed vector must encode to its own code in every
    subspace with zero reconstruction error."""
    import etl_generator_demo_spark.operators.clustering as cl
    from etl_generator_demo_spark.registry import load_all

    emb = cl._quantized(spark, sf_dir)
    seed = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(cl.PQ_K)
        .collect()
    )
    out = {
        r.vec_id: r
        for r in load_all()["x3_pq_codes"].fn(spark, sf_dir).collect()
    }
    for j, s in enumerate(seed):
        row = out[s.vec_id]
        assert row.recon_err == 0, s.vec_id
        assert row.codes_csv == ",".join([str(j)] * cl.PQ_M)
    # every code in range, errors non-negative
    for r in out.values():
        codes = [int(c) for c in r.codes_csv.split(",")]
        assert len(codes) == cl.PQ_M
        assert all(0 <= c < cl.PQ_K for c in codes)
        assert r.recon_err >= 0
