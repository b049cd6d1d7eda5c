"""Similarity-search tests: brute-force correctness on hand vectors,
ANN structural guarantees + measured recall on the fixture."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    cosine,
    _as_double,
)


@pytest.fixture(scope="module")
def tiny_vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_ordering_and_values(tiny_vectors):
    out = brute_force_topk(tiny_vectors, [1.0, 0.0, 0.0], k=4).collect()
    ids = [r["vec_id"] for r in out]
    assert ids == [1, 2, 3, 4]  # exact, near, orthogonal, opposite
    assert out[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    expected2 = 0.9 / math.sqrt(0.81 + 0.01)
    assert out[1]["cosine"] == pytest.approx(expected2, abs=1e-5)
    assert out[2]["cosine"] == pytest.approx(0.0, abs=1e-6)
    assert out[3]["cosine"] == pytest.approx(-1.0, abs=1e-6)


def test_cosine_expr_null_safe_zero_norm(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, embedding array<float>")
    out = df.select(
        cosine(_as_double("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("c")
    ).first()
    assert out["c"] is None or math.isnan(out["c"])  # 0/0 -> null/NaN, no crash


def test_ann_subset_of_bruteforce_with_exact_scores(spark, sf_dir):
    from etl_generator_demo_spark.operators.relational import t

    emb = t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    base = emb.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"]: r["cosine"] for r in brute_force_topk(base, qv, k=500).collect()}
    ann = ann_lsh_topk(base, qv, k=10).collect()
    assert 0 < len(ann) <= 10
    for r in ann:
        # every ANN hit carries the exact cosine of the full ranking
        assert r["vec_id"] in exact
        assert r["cosine"] == exact[r["vec_id"]]


@pytest.mark.slow
def test_allpairs_anchor_oracle_parity_and_bucketed_recall(spark, sf_dir):
    """The global all-pairs near-dup is deliberately NOT registered (its
    plan is a nested-loop O(n²) join). Keep it honest here as the oracle
    anchor, and pin the registered bucketed pipeline's recall against it:
    every bucketed pair must be an exact pair with the identical cosine,
    and recall must clear the LSH design floor."""
    import duckdb

    from etl_generator_demo_spark.catalog import TABLES
    from etl_generator_demo_spark.operators.similarity import (
        ALL_PAIRS_ORACLE,
        x3_cosine_neardup_pairs,
        x3_neardup_lsh_bucketed,
    )

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    exact_duck = {(a, b): c for a, b, c in con.execute(ALL_PAIRS_ORACLE).fetchall()}
    exact_spark = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in x3_cosine_neardup_pairs(spark, sf_dir).collect()
    }
    assert exact_spark == pytest.approx(exact_duck)  # test-only oracle anchor

    bucketed = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in x3_neardup_lsh_bucketed(spark, sf_dir).collect()
    }
    assert set(bucketed) <= set(exact_spark)
    for pair, cos in bucketed.items():
        assert cos == exact_spark[pair]
    recall = len(bucketed) / max(len(exact_spark), 1)
    assert recall >= 0.5, f"bucketed near-dup recall = {recall}"


def test_persisted_lsh_probe_prunes_and_matches_scan(spark, sf_dir):
    """The persisted-index probe must (a) return the same result as the
    scan-based ANN with identical hyperplanes, (b) compile to a
    partition-pruned parquet scan with no Python on the executors."""
    from etl_generator_demo_spark.operators.ann_index import lsh_probe_topk
    from etl_generator_demo_spark.operators.relational import t

    emb = t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    base = emb.filter(F.col("vec_id") != 0)
    scan = [(r["vec_id"], r["cosine"]) for r in ann_lsh_topk(base, qv, k=10).collect()]
    probe_df = lsh_probe_topk(spark, sf_dir, qv, k=10, exclude_ids=(0,))
    probe = [(r["vec_id"], r["cosine"]) for r in probe_df.select("vec_id", "cosine").collect()]
    assert probe == scan
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "PartitionFilters: [" in plan and "PartitionFilters: []" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_persisted_ivf_probe_recall_and_pruning(spark, sf_dir):
    from etl_generator_demo_spark.operators.ann_index import ivf_probe_topk
    from etl_generator_demo_spark.operators.relational import t

    emb = t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    base = emb.filter(F.col("vec_id") != 0)
    truth = [r["vec_id"] for r in brute_force_topk(base, qv, k=10).collect()]
    full = ivf_probe_topk(spark, sf_dir, qv, k=10, n_probe=16, exclude_ids=(0,))
    assert [r["vec_id"] for r in full.collect()] == truth  # full probe == exact
    part_df = ivf_probe_topk(spark, sf_dir, qv, k=10, n_probe=4, exclude_ids=(0,))
    approx = {r["vec_id"] for r in part_df.collect()}
    assert len(set(truth) & approx) / 10 >= 0.2
    plan = part_df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "PartitionFilters: [ivf_list" in plan
    assert "MapInPandas" not in plan


def test_ann_recall_at_10(spark, sf_dir):
    """Deterministic md5 hyperplanes -> recall is a fixed number for the
    fixture; uniform-random vectors give moderate recall by design
    (raise `tables` for more). Assert the floor so regressions show."""
    from etl_generator_demo_spark.operators.relational import t

    emb = t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    base = emb.filter(F.col("vec_id") != 0)
    truth = {r["vec_id"] for r in brute_force_topk(base, qv, k=10).collect()}
    got = {r["vec_id"] for r in ann_lsh_topk(base, qv, k=10).collect()}
    recall = len(truth & got) / 10
    assert recall >= 0.5, f"ANN recall@10 = {recall}"


def test_warm_index_is_not_rebuilt(spark, sf_dir):
    """bench.py times the steady-state probe: a warm ensure_* call must
    be a stat, never a rebuild (the _SUCCESS artifact stays untouched)."""
    import os

    from etl_generator_demo_spark.operators.ann_index import (
        ensure_ivf_index,
        ensure_lsh_index,
    )

    lsh = ensure_lsh_index(spark, sf_dir)
    ivf, _ = ensure_ivf_index(spark, sf_dir)
    stamps = {p: os.path.getmtime(os.path.join(p, "_SUCCESS")) for p in (lsh, ivf)}
    assert ensure_lsh_index(spark, sf_dir) == lsh
    assert ensure_ivf_index(spark, sf_dir)[0] == ivf
    for p, t0 in stamps.items():
        assert os.path.getmtime(os.path.join(p, "_SUCCESS")) == t0, f"{p} rebuilt"


def test_neardup_clusters_consistent_with_pairs(spark, sf_dir):
    """Cluster resolution over the bucketed pairs: both endpoints of
    every near-dup pair land in one cluster, the canonical keeper is
    the cluster minimum, and non-paired vectors stay singletons."""
    from etl_generator_demo_spark.operators.similarity import (
        embedding_neardup_pairs,
        x3_neardup_clusters,
    )

    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(spark, sf_dir).collect()
    }
    clusters = {
        r["vec_id"]: (r["cluster_id"], r["is_keep"])
        for r in x3_neardup_clusters(spark, sf_dir).collect()
    }
    assert len(pairs) > 0
    for a, b in pairs:
        assert clusters[a][0] == clusters[b][0]
    # keeper of each cluster is its minimum member id, exactly one per cluster
    members: dict[int, list[int]] = {}
    for vid, (cid, _) in clusters.items():
        members.setdefault(cid, []).append(vid)
    for cid, vids in members.items():
        assert cid == min(vids)
        assert clusters[cid][1] is True
        assert sum(1 for v in vids if clusters[v][1]) == 1
    # vectors touching no pair are their own cluster
    paired = {v for p in pairs for v in p}
    for vid, (cid, keep) in clusters.items():
        if vid not in paired:
            assert cid == vid and keep is True


def test_neardup_vector_rejoin_plan_is_sized(spark, sf_dir):
    """The vector rejoin after candidate dedup must be broadcast ONLY
    while the embeddings table is small: forced broadcast shows
    BroadcastHashJoin/BroadcastExchange, forced shuffle shows none on
    the vec_a/vec_b joins — the 100 TB path must not broadcast the
    corpus (round-3 VERDICT defect, similarity.py rejoin)."""
    from etl_generator_demo_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    bc_plan = embedding_neardup_pairs(
        spark, sf_dir, broadcast_vectors=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [vec_a" in bc_plan
    assert "BroadcastHashJoin [vec_b" in bc_plan

    # the bucket self-join may still broadcast by Catalyst size stats —
    # only the vec_a/vec_b vector rejoins must not
    sh_plan = embedding_neardup_pairs(
        spark, sf_dir, broadcast_vectors=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [vec_a" not in sh_plan
    assert "BroadcastHashJoin [vec_b" not in sh_plan
    assert "SortMergeJoin [vec_a" in sh_plan
    assert "SortMergeJoin [vec_b" in sh_plan


def test_int8_quantization_preserves_topk_recall(spark, sf_dir):
    """Dequantized int8 vectors must keep >= 8/10 of the exact cosine
    top-10 for the probe vector — the quality bar that makes the 4x
    storage cut usable for candidate generation."""
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.relational import t
    from etl_generator_demo_spark.operators.similarity import (
        brute_force_topk,
        quantize_int8,
    )

    emb = t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    exact = {
        r["vec_id"]
        for r in brute_force_topk(emb.filter(F.col("vec_id") != 0), qv, k=10).collect()
    }
    # library (array-returning) form; the registered query emits the
    # same codes as a CSV string for the driver's canonicalizer
    deq = (
        quantize_int8(emb)
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.transform(
                "q", lambda x: x.cast("double") / 127 * F.col("max_abs")
            ).alias("embedding"),
        )
    )
    approx = {r["vec_id"] for r in brute_force_topk(deq, qv, k=10).collect()}
    assert len(exact & approx) >= 8


def test_multiprobe_recall_superset_of_single_probe(spark, sf_dir):
    """Multi-probe candidates strictly contain the single-probe bucket
    set, so its top-10 cosine floor can only improve (or tie)."""
    from etl_generator_demo_spark.catalog import read_table
    from etl_generator_demo_spark.operators.ann_index import (
        lsh_multiprobe_topk,
        lsh_probe_topk,
        multiprobe_buckets,
        query_buckets,
    )
    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings")
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    single = query_buckets(q)
    multi = multiprobe_buckets(q)
    for tbl, b in enumerate(single):
        assert multi[tbl][0] == b  # exact bucket probed first
        assert len(multi[tbl]) == 1 + len(b) - 1  # 1 + planes
        assert len(set(multi[tbl])) == len(multi[tbl])
    s = lsh_probe_topk(spark, sf_dir, q, k=10, exclude_ids=(0,)).collect()
    m = lsh_multiprobe_topk(spark, sf_dir, q, k=10, exclude_ids=(0,)).collect()
    assert len(m) >= len(s)
    if s and m:
        assert m[-1].cosine >= s[-1].cosine  # kth-best can only improve


def test_ann_recall_curve_shape(spark, sf_dir):
    from etl_generator_demo_spark.registry import load_all
    import etl_generator_demo_spark.operators.ann_index as ai

    rows = load_all()["x3_ann_recall_curve"].fn(spark, sf_dir).collect()
    assert [r.k for r in rows] == list(ai.RECALL_KS)
    for r in rows:
        assert 0 <= r.n_hits <= r.k
        assert r.recall_e6 == r.n_hits * 1_000_000 // r.k
    # the probe must find SOMETHING at k=20 on the fixture (planted
    # near-dups share buckets with the query's neighborhood)
    assert rows[-1].n_hits > 0


def test_prefilter_where_reaches_the_pruned_scan(spark, sf_dir):
    """The pre-filter contract at plan level: with `where` set, the
    IVF probe's scan line carries BOTH the ivf_list partition filter
    and the label pushed filter (the property plan_audit pins for the
    registered query, asserted here against the probe function
    directly so a refactor can't silently drop the pushdown)."""
    from etl_generator_demo_spark.operators.ann_index import ivf_probe_topk
    from etl_generator_demo_spark.operators.relational import t

    emb = t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[
            "embedding"
        ]
    ]
    df = ivf_probe_topk(spark, sf_dir, qv, k=5, n_probe=2, where="label = 3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "ivf_list" in ln
    ]
    assert scan_lines, plan
    assert any(
        "PushedFilters" in ln and "label" in ln.split("PushedFilters")[1][:120]
        for ln in scan_lines
    ), scan_lines
    rows = df.collect()
    assert rows and all(r["label"] == 3 for r in rows)


def test_vector_norm_audit_consistent_dims(spark, sf_dir):
    from etl_generator_demo_spark.operators.similarity import x3_vector_norm_audit

    out = x3_vector_norm_audit(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["min_dims"] == r["max_dims"]  # fixture embeddings uniform
        assert 0 <= r["min_qnorm2"] <= r["max_qnorm2"]
        assert r["n_zero_vecs"] >= 0

def test_vector_norm_audit_empty_array_is_null(spark, tmp_path):
    """Empty-array contract: an empty embedding yields qnorm2 NULL (a
    missing vector), never 0 (a zero vector) — pinned cross-engine
    against the DuckDB oracle on the same degenerate fixture."""
    import duckdb

    from etl_generator_demo_spark.operators.similarity import x3_vector_norm_audit
    from etl_generator_demo_spark.registry import load_all

    rows = [
        (1, [1.0, 2.0], 7),
        (2, [], 7),
        (3, [0.0, 0.0], 8),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    path = str(tmp_path / "embeddings.parquet")
    df.write.mode("overwrite").parquet(path)
    out = {
        r["label"]: r
        for r in x3_vector_norm_audit(spark, str(tmp_path)).collect()
    }
    a = out[7]
    assert a["n_vecs"] == 2
    assert a["n_zero_vecs"] == 0  # empty is NOT a zero vector
    assert a["min_qnorm2"] == a["max_qnorm2"] == 1000**2 + 2000**2
    assert (a["min_dims"], a["max_dims"]) == (0, 2)
    b = out[8]
    assert b["n_zero_vecs"] == 1 and b["min_qnorm2"] == 0
    # cross-engine parity on the degenerate fixture
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    sql = load_all()["x3_vector_norm_audit"].oracle
    for lbl, n_zero, mn in con.execute(
        f"SELECT label, n_zero_vecs, min_qnorm2 FROM ({sql}) ORDER BY label"
    ).fetchall():
        r = out[lbl]
        assert r["n_zero_vecs"] == n_zero
        assert r["min_qnorm2"] == mn

def test_sq_bits_sweep_closed_form_and_monotone(spark, tmp_path):
    """Hand-computable corpus: v=[1.0, 0.5], max_abs=1. bits=2 (L=1):
    q=[1,0] -> dq=[1.0,0.0] -> SSE=0.25 exactly (sum_sse_e6=250000).
    More bits must never increase distortion or decrease recall."""
    from etl_generator_demo_spark.operators.similarity import (
        x3_sq_bits_sweep,
    )

    rows = [
        (0, [1.0, 0.5], 0),
        (1, [0.5, 1.0], 0),
        (2, [-1.0, 0.25], 1),
        (3, [0.25, -1.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["bits"]: r for r in x3_sq_bits_sweep(spark, str(tmp_path)).collect()}
    assert set(out) == {2, 4, 8}
    assert out[2]["n_vectors"] == 4
    # vec 0: err [0, .5] -> .25; vec 1 symmetric -> .25;
    # vec 2: q=floor([-1, .25])=[-1, 0] -> err [0, .25] -> .0625; vec 3 same
    assert out[2]["sum_sse_e6"] == 250_000 * 2 + 62_500 * 2
    assert out[2]["sum_sse_e6"] >= out[4]["sum_sse_e6"] >= out[8]["sum_sse_e6"]
    assert out[2]["recall10_sum"] <= out[4]["recall10_sum"] <= out[8]["recall10_sum"]

def test_hard_negative_mining_planted_geometry(spark, tmp_path):
    """Query 0 (label 0): wrong-label vectors ranked by dot — [0.75,
    0.25] before [0.5, 0.5]; the same-label [0, 1] never appears.
    (Values chosen exactly float32-representable.)"""
    from etl_generator_demo_spark.operators.similarity import (
        x3_hard_negative_mining,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.75, 0.25], 1),
        (2, [0.5, 0.5], 1),
        (3, [0.0, 1.0], 0),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = [
        (r["rnk"], r["neg_id"], r["neg_label"], r["score_e6"])
        for r in x3_hard_negative_mining(spark, str(tmp_path)).collect()
        if r["query_id"] == 0
    ]
    assert got == [(1, 1, 1, 750_000), (2, 2, 1, 500_000)]

def test_matryoshka_cascade_prefix_sums_bit_exact(spark):
    """The cascaded prefix folds of the Matryoshka sweep (the p=16 dot
    continues the p=8 partial) must be BIT-identical to fresh sequential folds over each
    prefix — same op order, so the committed e6-floored hashes cannot
    move."""
    from etl_generator_demo_spark.operators.similarity import _dot

    import random

    rng = random.Random(7)
    a = [rng.uniform(-1, 1) for _ in range(64)]
    b = [rng.uniform(-1, 1) for _ in range(64)]
    df = spark.createDataFrame(
        [(a, b)], "va array<double>, vb array<double>"
    )
    prod = F.zip_with("va", "vb", lambda x, y: x * y)
    df = df.withColumn("_p", prod)
    # fresh folds
    fresh = df.select(
        *[
            F.aggregate(
                F.slice("_p", 1, c), F.lit(0.0), lambda s, v: s + v
            ).alias(f"f{c}")
            for c in (8, 16, 32, 64)
        ]
    ).first()
    # cascaded folds (the query's spelling)
    prev, prev_cut, cols = F.lit(0.0), 0, []
    for c in (8, 16, 32, 64):
        s = F.aggregate(
            F.slice("_p", prev_cut + 1, c - prev_cut), prev, lambda s_, v: s_ + v
        )
        cols.append(s.alias(f"c{c}"))
        prev, prev_cut = s, c
    casc = df.select(*cols).first()
    for c in (8, 16, 32, 64):
        assert fresh[f"f{c}"] == casc[f"c{c}"]  # bit-exact, not approx
    # and both equal the engine's canonical _dot on the full vector
    full = df.select(_dot(F.col("va"), F.col("vb")).alias("d")).first()["d"]
    assert full == casc["c64"]

def test_neardup_dedup_placement_row_identical(spark, sf_dir):
    """The cross-table candidate dedup runs AFTER the cosine filter on
    the broadcast rejoin plan (output-sized distinct; the shuffle plan
    keeps distinct-first). Duplicate pairs from different
    LSH tables carry bit-identical cosines, so the two placements must
    agree row-for-row — including the duplicate factor being fully
    collapsed (no (vec_a, vec_b) appears twice)."""
    from etl_generator_demo_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    bc = sorted(
        map(tuple, embedding_neardup_pairs(
            spark, sf_dir, broadcast_vectors=True
        ).collect())
    )
    sh = sorted(
        map(tuple, embedding_neardup_pairs(
            spark, sf_dir, broadcast_vectors=False
        ).collect())
    )
    assert bc == sh and len(bc) > 0
    assert len({(a, b) for a, b, _ in bc}) == len(bc)

def test_lit_double_array_bit_exact(spark):
    """`lit_double_array` (one parsed `F.expr` round trip) must be
    bit-identical to the per-element `F.lit` spelling for arbitrary
    doubles, including denormals/extremes: Python repr round-trips the
    IEEE value and Spark's `<text>D` literal parses correctly-rounded."""
    import random
    import struct

    from etl_generator_demo_spark.operators.similarity import lit_double_array

    rng = random.Random(17)
    vals = [rng.uniform(-1e6, 1e6) for _ in range(64)] + [
        0.1, -0.0, 1e-09, 5e-324, 1.7976931348623157e308, -3.141592653589793,
    ]
    row = (
        spark.range(1)
        .select(
            F.array(*[F.lit(float(v)) for v in vals]).alias("a"),
            lit_double_array(vals).alias("b"),
        )
        .first()
    )
    assert [struct.pack("d", x) for x in row.a] == [
        struct.pack("d", x) for x in row.b
    ]

def test_memoized_expression_trees_reusable_across_frames(spark):
    """The column_memo'd named expression trees (_dot/_norm/cosine/
    lsh_bucket_expr) are immutable values: the SAME cached Column must
    produce identical results when bound to two different DataFrames,
    and equal results to a freshly-built uncached tree."""
    from etl_generator_demo_spark.operators.similarity import (
        _dot,
        _norm,
        cosine,
    )

    df1 = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "id long, v array<double>, w array<double>"
    )
    df2 = spark.createDataFrame(
        [(2, [0.5, -1.0, 2.5], [1.5, 0.0, -2.0])], "id long, v array<double>, w array<double>"
    )
    cached = cosine("v", "w")  # named -> cached tree
    assert cached is cosine("v", "w")  # the memo actually serves
    for df in (df1, df2):
        a = df.select(cached.alias("c")).first()["c"]
        b = df.select(
            cosine(F.col("v"), F.col("w")).alias("c")
        ).first()["c"]
        assert a == b
    # dot/norm named == column spellings
    r = df1.select(
        _dot("v", "w").alias("d1"),
        _dot(F.col("v"), F.col("w")).alias("d2"),
        _norm("v").alias("n1"),
        _norm(F.col("v")).alias("n2"),
    ).first()
    assert r.d1 == r.d2 and r.n1 == r.n2


# ---------------------------------------------------------------------------
# Degenerate input: every registered query that reads `embeddings`, on the
# sf0.001 fixture with that table cut to zero rows, against its oracle.
# ---------------------------------------------------------------------------

EMBEDDINGS_QUERIES = (
    "x3_ann_batch_probe",
    "x3_ann_batch_topk",
    "x3_ann_ivf_topk",
    "x3_ann_lsh_multiprobe",
    "x3_ann_lsh_probe",
    "x3_ann_lsh_topk",
    "x3_ann_recall_curve",
    "x3_cosine_topk",
    "x3_dim_covariance",
    "x3_exact_topk_indexed",
    "x3_filtered_topk_postfilter_sweep",
    "x3_filtered_topk_prefilter",
    "x3_hard_negative_mining",
    "x3_ivf_nprobe_recall_sweep",
    "x3_ivf_staleness_audit",
    "x3_ivfpq_adc_topk",
    "x3_kmeans_clusters",
    "x3_kmeans_k_sweep",
    "x3_knn_label_vote",
    "x3_label_centroids",
    "x3_label_purity",
    "x3_matryoshka_prefix_recall",
    "x3_mmr_diversified_topk",
    "x3_mrl_prefix_recall",
    "x3_neardup_clusters",
    "x3_neardup_lsh_bucketed",
    "x3_pc1_projection_histogram",
    "x3_pca_power_iteration",
    "x3_pq_codes",
    "x3_prefilter_selectivity_sweep",
    "x3_quantize_int8",
    "x3_radius_search",
    "x3_radius_search_clustered",
    "x3_random_projection",
    "x3_semantic_decontam",
    "x3_semantic_decontam_fixed_eval",
    "x3_semantic_decontam_indexed",
    "x3_semantic_decontam_recall",
    "x3_semdedup_keep",
    "x3_silhouette_centroid",
    "x3_sq_bits_sweep",
    "x3_vector_norm_audit",
    "x4_decontam_funnel",
    "x4_decontam_tier_overlap",
    "x4_rrf_hybrid_topk",
    "x5_av_segment_alignment",
    "x5_crossmodal_clip_gate",
    "x5_keyframe_selection",
    "x5_media_curation_attrition",
    "x5_scene_cut_detection",
)


def test_embeddings_query_list_is_complete():
    from etl_generator_demo_spark.registry import load_all

    readers = {n for n, rq in load_all().items() if "embeddings" in rq.oracle}
    assert readers == set(EMBEDDINGS_QUERIES)


@pytest.mark.parametrize("name", EMBEDDINGS_QUERIES)
def test_empty_embeddings_match_oracle(
    spark, sf_dir, replace_table, oracle_mismatches, name
):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = replace_table("embeddings", emb.limit(0))
    bad = oracle_mismatches(d, [name])
    assert not bad, bad
