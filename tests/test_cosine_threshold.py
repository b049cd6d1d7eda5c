"""Planted pins for the ball-bounded exact cosine-threshold index
(operators/cosine_threshold.py, round 14).

The oracle gate proves indexed == brute-force on the fixtures; these
tests prove (a) the ball bound's EXACTNESS invariant on data where
pruning genuinely fires (clustered corpora — the fixtures are uniform,
so their radii ~1.0 and nothing prunes), (b) that pruning DOES fire
there (the scale claim is real, not vacuous), and (c) the degenerate
edges (zero-norm vectors, empty qualification).
"""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F


def _write_embeddings(spark, path, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def _clustered_rows(n_per=8):
    """Three well-separated clusters on coordinate axes (dim 6), with
    small within-cluster jitter on a secondary axis — cosines within a
    cluster stay > 0.95, across clusters < 0.2."""
    rows = []
    vid = 0
    for c in range(3):
        for j in range(n_per):
            v = [0.0] * 6
            v[c] = 1.0
            v[3 + c] = 0.05 * (j + 1)  # jitter, keeps cluster tight
            rows.append((vid, v, c))
            vid += 1
    return rows


def _brute_pairs(spark, path, queries, tau_e6, exclude_ids=()):
    """Reference answer via the brute crossJoin spelling."""
    from etl_generator_demo_spark.operators.similarity import _as_double, cosine

    emb = spark.read.parquet(f"{path}/embeddings.parquet")
    if exclude_ids:
        emb = emb.filter(~F.col("vec_id").isin(list(exclude_ids)))
    out = []
    for qid, qv in queries:
        qcol = F.array(*[F.lit(float(x)) for x in qv])
        hits = (
            emb.select(
                "vec_id",
                F.floor(cosine(_as_double("embedding"), qcol) * 1_000_000)
                .cast("long")
                .alias("cos_e6"),
            )
            .filter(F.col("cos_e6") >= tau_e6)
            .collect()
        )
        out.extend((r["vec_id"], qid, r["cos_e6"]) for r in hits)
    return sorted(out)


@pytest.mark.slow
def test_exactness_on_clustered_corpus_list_path(spark, tmp_path):
    """List-queries (static pruning) path returns exactly the brute
    hit set on a clustered corpus where pruning fires."""
    from etl_generator_demo_spark.operators.cosine_threshold import (
        cosine_threshold_join,
        ensure_cosine_ivf_index,
    )

    rows = _clustered_rows()
    _write_embeddings(spark, str(tmp_path), rows)
    queries = [(100, [1.0, 0.0, 0.0, 0.04, 0.0, 0.0])]
    tau_e6 = 900_000
    got = sorted(
        tuple(r)
        for r in cosine_threshold_join(
            spark, str(tmp_path), queries, tau_e6, n_lists=4
        ).collect()
    )
    assert got == _brute_pairs(spark, str(tmp_path), queries, tau_e6)
    assert len(got) >= 4  # the query's own cluster is in range

    # pruning genuinely fires: at tau 0.9 the qualified-list union for
    # this query excludes at least one of the 4 lists
    path, centroids, radii = ensure_cosine_ivf_index(
        spark, str(tmp_path), n_lists=4
    )
    qv = queries[0][1]
    n = math.sqrt(sum(x * x for x in qv))
    qhat = [x / n for x in qv]
    qualified = [
        i
        for i in range(4)
        if sum(a * b for a, b in zip(centroids[i], qhat)) + radii[i]
        >= tau_e6 / 1e6 - 1e-9
    ]
    assert 0 < len(qualified) < 4


@pytest.mark.slow
def test_exactness_dataframe_path_matches_list_path(spark, tmp_path):
    """DataFrame-queries (DPP) path and list-queries (static) path
    return identical pair sets — and both equal brute force."""
    from etl_generator_demo_spark.operators.cosine_threshold import (
        cosine_threshold_join,
    )

    rows = _clustered_rows()
    _write_embeddings(spark, str(tmp_path), rows)
    queries = [
        (0, [0.0, 1.0, 0.0, 0.0, 0.07, 0.0]),
        (1, [0.0, 0.0, 1.0, 0.0, 0.0, 0.2]),
    ]
    tau_e6 = 800_000
    qdf = spark.createDataFrame(
        [(q, [float(x) for x in v]) for q, v in queries],
        "query_id long, qv array<double>",
    )
    via_df = sorted(
        tuple(r)
        for r in cosine_threshold_join(
            spark, str(tmp_path), qdf, tau_e6, n_lists=4
        ).collect()
    )
    via_list = sorted(
        tuple(r)
        for r in cosine_threshold_join(
            spark, str(tmp_path), queries, tau_e6, n_lists=4
        ).collect()
    )
    brute = _brute_pairs(spark, str(tmp_path), queries, tau_e6)
    assert via_df == via_list == brute
    assert len(brute) >= 8


def test_radii_cover_every_member(spark, tmp_path):
    """Index invariant the exactness proof rests on: every vector's
    normalized distance to its list centroid is <= the stored radius."""
    from etl_generator_demo_spark.operators.cosine_threshold import (
        ensure_cosine_ivf_index,
    )

    _write_embeddings(spark, str(tmp_path), _clustered_rows())
    path, centroids, radii = ensure_cosine_ivf_index(spark, str(tmp_path), n_lists=4)
    assert os.path.exists(os.path.join(path, "_RADII.json"))
    rows = spark.read.parquet(path).select("embedding", "ivf_list").collect()
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        n = math.sqrt(sum(x * x for x in v))
        vhat = [x / n for x in v]
        c = centroids[r["ivf_list"]]
        d = math.sqrt(sum((a - b) ** 2 for a, b in zip(vhat, c)))
        assert d <= radii[r["ivf_list"]] + 1e-12


def test_zero_norm_vectors_never_hit(spark, tmp_path):
    """A zero vector in the corpus (NULL cosine under try_divide) is
    dropped by the hit filter, exactly as the brute tier drops it."""
    from etl_generator_demo_spark.operators.cosine_threshold import (
        cosine_threshold_join,
    )

    rows = _clustered_rows()
    rows.append((999, [0.0] * 6, 9))
    _write_embeddings(spark, str(tmp_path), rows)
    queries = [(0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0])]
    got = cosine_threshold_join(spark, str(tmp_path), queries, 100_000, n_lists=4)
    assert all(r["vec_id"] != 999 for r in got.collect())


def test_empty_qualification_returns_empty(spark, tmp_path):
    """A query orthogonal to every cluster at an unreachable tau
    qualifies no list on a tight corpus — static path must return an
    empty (not failing) relation."""
    from etl_generator_demo_spark.operators.cosine_threshold import (
        cosine_threshold_join,
    )

    # one tight cluster only: centroid ~ axis 0, radius small
    rows = [(i, [1.0, 0.05 * (i + 1), 0.0, 0.0, 0.0, 0.0], 0) for i in range(12)]
    _write_embeddings(spark, str(tmp_path), rows)
    queries = [(0, [0.0, 0.0, 0.0, 0.0, 0.0, 1.0])]  # orthogonal
    got = cosine_threshold_join(
        spark, str(tmp_path), queries, 990_000, n_lists=2
    ).collect()
    assert got == []


def test_static_path_plan_has_literal_partition_filter(spark, tmp_path):
    """The list-queries path prunes with a LITERAL ivf_list IN (...)
    partition filter (no corpus-wide scan, no DPP dependency)."""
    from etl_generator_demo_spark.operators.cosine_threshold import (
        cosine_threshold_join,
    )

    _write_embeddings(spark, str(tmp_path), _clustered_rows())
    df = cosine_threshold_join(
        spark,
        str(tmp_path),
        [(0, [1.0, 0.0, 0.0, 0.04, 0.0, 0.0])],
        900_000,
        n_lists=4,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ivf_list" in plan.split("PartitionFilters", 1)[1][:400]


def test_exact_topk_indexed_matches_brute_and_prunes(spark, tmp_path):
    """Two-phase ball-bound top-k: bitwise brute-force answer on a
    clustered corpus, AND phase 2 provably skips lists there (the
    kth-score cap from the query's own cluster excludes the far
    clusters' balls)."""
    import numpy as np

    from etl_generator_demo_spark.operators.cosine_threshold import (
        ensure_cosine_ivf_index,
        exact_topk_indexed,
    )
    from etl_generator_demo_spark.operators.similarity import brute_force_topk

    rows = _clustered_rows(n_per=10)
    _write_embeddings(spark, str(tmp_path), rows)
    qv = [1.0, 0.0, 0.0, 0.12, 0.0, 0.0]
    got = [
        (r["vec_id"], r["cosine"])
        for r in exact_topk_indexed(spark, str(tmp_path), qv, k=5, n_lists=4).collect()
    ]
    emb = spark.read.parquet(f"{tmp_path}/embeddings.parquet")
    want = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(emb, qv, k=5).collect()
    ]
    assert got == want and len(got) == 5

    # pruning really fires: with the kth score ~0.99 from the query's
    # cluster, at least one other cluster's ball bound falls below it
    path, centroids, radii = ensure_cosine_ivf_index(
        spark, str(tmp_path), n_lists=4
    )
    q = np.asarray(qv)
    qhat = q / np.sqrt((q * q).sum())
    bounds = np.asarray(centroids) @ qhat + np.asarray(radii)
    s = min(c for _, c in got)
    assert (bounds < s - 1e-6).any()


def test_exact_topk_indexed_small_head_falls_back_exact(spark, tmp_path):
    """k larger than the nearest list: phase 1 underfills, s drops to
    -1, phase 2 scans all qualified lists — still the exact answer."""
    from etl_generator_demo_spark.operators.cosine_threshold import (
        exact_topk_indexed,
    )
    from etl_generator_demo_spark.operators.similarity import brute_force_topk

    _write_embeddings(spark, str(tmp_path), _clustered_rows(n_per=4))
    qv = [0.0, 1.0, 0.0, 0.0, 0.1, 0.0]
    got = [
        tuple(r)
        for r in exact_topk_indexed(
            spark, str(tmp_path), qv, k=9, n_lists=4
        ).select("vec_id", "cosine").collect()
    ]
    emb = spark.read.parquet(f"{tmp_path}/embeddings.parquet")
    want = [
        tuple(r)
        for r in brute_force_topk(emb, qv, k=9).select("vec_id", "cosine").collect()
    ]
    assert got == want and len(got) == 9


@pytest.mark.slow
def test_randomized_differential_exactness(spark, tmp_path):
    """Seeded randomized differential: across random corpora (mixed
    cluster tightness, duplicate vectors, negative components, a zero
    vector, varying n_lists) and multiple taus, the ball-bound join's
    hit set is ALWAYS bitwise the brute-force hit set. This is the
    adversarial sweep behind the exactness claim — any eps/radius
    bug that drops a borderline pair fails here before the oracle
    gate sees it."""
    import random

    from etl_generator_demo_spark.operators.cosine_threshold import (
        cosine_threshold_join,
    )

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        dim = rng.choice((4, 8))
        n = rng.randint(30, 60)
        rows = []
        for vid in range(n):
            mode = rng.random()
            if mode < 0.5:  # clustered around an axis
                axis = rng.randrange(dim)
                v = [rng.gauss(0, 0.1) for _ in range(dim)]
                v[axis] += 1.0
            elif mode < 0.9:  # uniform
                v = [rng.uniform(-1, 1) for _ in range(dim)]
            else:  # exact duplicate of an earlier vector
                v = list(rows[rng.randrange(len(rows))][1]) if rows else [1.0] * dim
            rows.append((vid, [float(x) for x in v], 0))
        rows.append((n, [0.0] * dim, 0))  # zero vector
        base = str(tmp_path / f"c{seed}")
        os.makedirs(base, exist_ok=True)
        _write_embeddings(spark, base, rows)
        queries = [
            (0, rows[rng.randrange(n)][1]),
            (1, [rng.uniform(-1, 1) for _ in range(dim)]),
        ]
        for tau_e6 in (rng.choice((150_000, 400_000)), 900_000):
            n_lists = rng.choice((2, 4, 8))
            got = sorted(
                tuple(r)
                for r in cosine_threshold_join(
                    spark, base, queries, tau_e6, n_lists=n_lists
                ).collect()
            )
            want = _brute_pairs(spark, base, queries, tau_e6)
            assert got == want, (
                f"seed={seed} tau={tau_e6} n_lists={n_lists}: "
                f"indexed {len(got)} pairs != brute {len(want)}"
            )


def test_clustered_radius_search_prunes_and_matches_brute(spark, sf_dir):
    """Ball-bound pruning must actually FIRE on the derived clustered
    corpus (lists_read < lists_total — the r15 probe-only evidence,
    now in-plan) and the pruned hit set must equal the brute-force
    answer over the same derived corpus exactly (pruning is provably
    lossless)."""
    from etl_generator_demo_spark.operators.cosine_threshold import (
        CLUSTERED_TAU_E6,
        clustered_corpus,
        ensure_cosine_ivf_index,
        qualify_lists_driver_side,
        x3_radius_search_clustered,
    )
    from etl_generator_demo_spark.operators.relational import t
    from etl_generator_demo_spark.operators.similarity import _as_double, _dot, _norm
    from pyspark.sql import functions as F

    got = x3_radius_search_clustered(spark, sf_dir).collect()
    assert got, "clustered same-cluster hits must exist by construction"
    assert all(r["pruned_some"] for r in got)

    # the operator's own qualification must have pruned lists
    emb = t(spark, sf_dir, "embeddings")
    row0 = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row0["embedding"]]
    _p, centroids, radii = ensure_cosine_ivf_index(
        spark, sf_dir, corpus_fn=clustered_corpus, variant="clustered"
    )
    _rows, lists = qualify_lists_driver_side(
        centroids, radii, [(0, qv)], CLUSTERED_TAU_E6 / 1e6
    )
    assert 0 < len(lists) < len(centroids)

    # brute force over the SAME derived corpus — exact hit parity
    cc = clustered_corpus(spark, sf_dir).filter(F.col("vec_id") != 0)
    qlit = F.array(*[F.lit(x) for x in qv])
    qn = sum(x * x for x in qv) ** 0.5
    brute = {
        (r["vec_id"], r["cos_e6"])
        for r in cc.select(
            "vec_id",
            F.floor(
                _dot(_as_double("embedding"), qlit)
                / (_norm(_as_double("embedding")) * F.lit(qn))
                * 1_000_000
            )
            .cast("long")
            .alias("cos_e6"),
        )
        .filter(F.col("cos_e6") >= CLUSTERED_TAU_E6)
        .collect()
    }
    assert {(r["vec_id"], r["cos_e6"]) for r in got} == brute
