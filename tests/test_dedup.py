"""Dedup operator unit tests on tiny inline data + fixture structure."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.dedup import (
    doc_shingles,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _write_docs(spark, path, rows):
    """rows: list of (doc_id, text). lang/source/n_chars derived."""
    spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_exact_dedup_keeps_one_per_key(spark):
    df = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = exact_dedup(df, ["text"])
    assert out.count() == 2


def test_shingles_short_doc_empty(spark):
    df = _docs(spark, [(1, "only four tokens here")])  # < 5 tokens
    assert doc_shingles(df).count() == 0


def test_shingles_count_and_distinct(spark):
    df = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e a b c d e")])
    sh = doc_shingles(df)
    # doc1: 2 shingles; doc2: 6 positions but 'a_b_c_d_e' repeats -> distinct
    got = {r["doc_id"]: r["n"] for r in sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert got[1] == 2 and got[2] < 6


def test_near_dup_detected_exact_dup_full_signature(spark):
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    near = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w13"  # one token changed
    other = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12"
    df = _docs(spark, [(1, base), (2, base), (3, near), (4, other)])
    sigs = minhash_signatures(doc_shingles(df))
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs          # identical docs always collide
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated never


def test_ngram_jaccard_exact_values(spark):
    base = "w1 w2 w3 w4 w5 w6"  # shingles: w1..w5, w2..w6
    df = _docs(spark, [(1, base), (2, base), (3, "a b c d e f")])
    out = ngram_jaccard_pairs(doc_shingles(df), threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"], r["jaccard"]) == (1, 2, 1.0)


def test_simhash_identical_docs_equal_fingerprints(spark):
    base = "w1 w2 w3 w4 w5 w6 w7 w8"
    df = _docs(spark, [(1, base), (2, base), (3, "q r s t u v w x")])
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(doc_shingles(df)).collect()}
    assert fps[1] == fps[2]
    assert len(fps[1]) == 16 and set(fps[1]) <= {"0", "1"}
    assert fps[1] != fps[3]


def test_fixture_finds_planted_near_dups(spark, sf_dir):
    """The sf0.001 corpus has ~28 planted near-dup pairs at Jaccard>0.5;
    LSH must recover a large majority (deterministic given md5 seeds)."""
    from etl_generator_demo_spark.operators.relational import t

    docs = t(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(sh, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_signatures(sh)).collect()
    }
    assert len(exact) >= 20
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_lsh_stop_band_guard(spark):
    """A hot bucket (boilerplate shared by many docs) is dropped when it
    exceeds max_bucket_size; genuine small buckets survive."""
    from etl_generator_demo_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"           # 20 identical docs
    pair = "p1 p2 p3 p4 p5 p6 p7 p8"             # 2 identical docs
    rows = [(i, boiler) for i in range(20)] + [(100, pair), (101, pair)]
    df = _docs(spark, rows)
    sigs = minhash_signatures(doc_shingles(df))
    unguarded = lsh_candidate_pairs(sigs).count()
    assert unguarded == 20 * 19 // 2 + 1          # hot bucket dominates
    guarded = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs, max_bucket_size=5).collect()
    }
    assert guarded == {(100, 101)}                # boilerplate dropped


def test_connected_components_planted_chain(spark):
    """A~B, B~C (no direct A~C) must collapse to ONE cluster with the
    min id canonical; isolated docs stay singletons."""
    from etl_generator_demo_spark.operators.dedup_clusters import (
        connected_components,
        dedup_corpus,
    )

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "z")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 3), (1, 2)], "doc_a long, doc_b long")
    cc = {r["doc_id"]: r["cluster_id"] for r in connected_components(docs.select("doc_id"), pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 9: 9}
    kept = {r["doc_id"] for r in dedup_corpus(docs, pairs).filter("is_keep").collect()}
    assert kept == {1, 9}


def test_connected_components_long_chain_converges(spark):
    """A 12-hop chain needs ~12 propagation rounds — exercises the
    iteration + localCheckpoint loop beyond trivial diameters."""
    from etl_generator_demo_spark.operators.dedup_clusters import connected_components

    n = 13
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    cc = {r["doc_id"]: r["cluster_id"] for r in connected_components(nodes, pairs).collect()}
    assert cc == {i: 0 for i in range(n)}


class TestIncrementalDedup:
    def test_batch_vs_corpus_dups_and_novel(self, spark, sf_dir):
        """The fixture's planted near-dup pairs are positional, so the
        mod-5 batch split leaves some batch docs with a corpus-side
        twin: those must come back dup_of=<corpus id>, everything else
        novel, and dup_of must never point into the batch itself."""
        from etl_generator_demo_spark.operators.dedup_incremental import (
            BATCH_MOD,
            BATCH_REMAINDER,
            x2_dedup_incremental,
        )

        rows = x2_dedup_incremental(spark, sf_dir).collect()
        batch_n = len(rows)
        assert batch_n > 0
        dups = [r for r in rows if not r["is_novel"]]
        assert 0 < len(dups) < batch_n  # some dups, not everything
        for r in dups:
            assert r["dup_of"] % BATCH_MOD != BATCH_REMAINDER
        for r in rows:
            assert r["is_novel"] == (r["dup_of"] is None)

    def test_admitted_batch_is_seen_by_next_ingest(self, spark, tmp_path):
        """Append-only index growth: after admitting batch 1, a re-run
        of batch 1 against the index reports every doc as a dup."""
        from etl_generator_demo_spark.operators.dedup_incremental import (
            admit_batch_to_index,
            document_bands,
            incremental_dedup,
        )

        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(100, "one two three four five six seven eight")],
            "doc_id long, text string",
        )
        idx = str(tmp_path / "bands")
        document_bands(corpus).write.parquet(idx)
        bands = spark.read.parquet(idx)
        first = incremental_dedup(bands, document_bands(batch)).collect()
        assert first == []  # disjoint text: novel
        admit_batch_to_index(idx, document_bands(batch))
        again = incremental_dedup(
            spark.read.parquet(idx), document_bands(batch)
        ).collect()
        assert [(r["doc_id"], r["dup_of"]) for r in again] == [(100, 100)]

    @pytest.mark.slow
    def test_compaction_preserves_probe_results(self, spark, tmp_path):
        """OPTIMIZE is a pure layout change: after many fragmented
        appends, compaction collapses the file count and a probe
        returns byte-for-byte the same verdicts as before."""
        from etl_generator_demo_spark.operators.dedup_incremental import (
            _index_part_files,
            admit_batch_to_index,
            compact_band_index,
            document_bands,
            incremental_dedup,
        )

        texts = [
            (i, f"w{i} x{i} y{i} z{i} common tail words here") for i in range(8)
        ]
        corpus = spark.createDataFrame(texts, "doc_id long, text string")
        idx = str(tmp_path / "bands")
        document_bands(corpus).write.parquet(idx)
        # fragment: admit each doc again as its own 1-doc batch
        for i, txt in texts:
            admit_batch_to_index(
                idx,
                document_bands(
                    spark.createDataFrame(
                        [(100 + i, txt)], "doc_id long, text string"
                    )
                ),
                compact_after_files=None,  # no auto-pass; compact explicitly below
            )
        probe = document_bands(
            spark.createDataFrame(
                [(500, texts[3][1]), (501, "totally disjoint novel words")],
                "doc_id long, text string",
            )
        )
        before = sorted(
            map(tuple, incremental_dedup(spark.read.parquet(idx), probe).collect())
        )
        n_before = _index_part_files(idx)
        n_b, n_a = compact_band_index(spark, idx)
        assert n_b == n_before and _index_part_files(idx) < n_before
        after = sorted(
            map(tuple, incremental_dedup(spark.read.parquet(idx), probe).collect())
        )
        assert after == before and before[0][0] == 500  # doc 3's twin found

    def test_admit_auto_compacts_past_threshold(self, spark, tmp_path):
        """The wired-in pass: admission itself fires compaction once
        fragmentation crosses the threshold."""
        from etl_generator_demo_spark.operators.dedup_incremental import (
            _index_part_files,
            admit_batch_to_index,
            document_bands,
        )

        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
        idx = str(tmp_path / "bands")
        document_bands(corpus).write.parquet(idx)
        for i in range(6):
            admit_batch_to_index(
                idx,
                document_bands(
                    spark.createDataFrame(
                        [(10 + i, f"unique words number {i} in this batch")],
                        "doc_id long, text string",
                    )
                ),
                compact_after_files=3,
            )
        assert _index_part_files(idx) <= 3 + 1  # stays bounded, not 7+


class TestConnectedComponentsProperty:
    @pytest.mark.slow
    def test_matches_union_find_on_random_graphs(self, spark):
        """Distributed min-label propagation ≡ driver-side union-find
        on a batch of random graphs (each with its own node count and
        edge density), including singletons and multi-chains."""
        import random

        from etl_generator_demo_spark.operators.dedup_clusters import (
            connected_components,
        )

        rng = random.Random(20260813)
        for trial in range(6):
            n = rng.randint(1, 40)
            m = rng.randint(0, 60)
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            ]
            edges = [(a, b) for a, b in edges if a != b]

            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            # canonical root = min node id of the component
            want = {}
            for v in range(n):
                root = find(v)
                want[v] = min(u for u in range(n) if find(u) == root)

            nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
            pairs = spark.createDataFrame(
                edges or [(0, 0)], "doc_a long, doc_b long"
            )
            if not edges:
                pairs = pairs.filter("doc_a <> doc_b")  # empty edge set
            got = {
                r["doc_id"]: r["cluster_id"]
                for r in connected_components(nodes, pairs).collect()
            }
            assert got == want, f"trial {trial}: n={n} edges={edges}"


def test_connected_components_long_chain_converges_logarithmically(spark):
    """A 300-node path graph (diameter 299) must converge well inside
    max_iter — pointer doubling makes rounds O(log n), where pure
    propagation would need one round per hop."""
    from etl_generator_demo_spark.operators.dedup_clusters import connected_components

    n = 300
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(nodes, pairs, max_iter=25).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_shingle_dup_coverage_exact_dupes_fully_covered(spark, sf_dir):
    """A document with an exact-text twin shares every shingle
    (dup_frac exactly 1.0); a unique document shares none; and
    n_shared <= n_shingles always — planted corpus, plus the fixture
    run for the invariant."""
    from etl_generator_demo_spark.operators.dedup import (
        shingle_dup_coverage,
        x2_shingle_dup_coverage,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    planted = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact twin of 1
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in shingle_dup_coverage(planted).collect()}
    assert got[1]["dup_frac"] == 1.0 and got[2]["dup_frac"] == 1.0
    assert got[3]["n_shared"] == 0 and got[3]["dup_frac"] == 0.0

    rows = x2_shingle_dup_coverage(spark, sf_dir).collect()
    assert rows and all(r["n_shared"] <= r["n_shingles"] for r in rows)


def test_golden_records_survivorship_rules(spark, sf_dir):
    from etl_generator_demo_spark.registry import load_all

    reg = load_all()
    golden = {r.cluster_id: r for r in reg["x2_golden_records"].fn(spark, sf_dir).collect()}
    cc = reg["x2_dedup_clusters"].fn(spark, sf_dir).collect()
    members: dict[int, list[int]] = {}
    for r in cc:
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    multi = {cid: m for cid, m in members.items() if len(m) > 1}
    assert set(golden) == set(multi)
    for cid, g in golden.items():
        assert g.keep_id == min(multi[cid])
        assert g.n_members == len(multi[cid])
        assert g.sources_csv == ",".join(sorted(set(g.sources_csv.split(","))))


def test_verified_neardup_candidate_joins_are_sized(spark, sf_dir):
    """The verify tier's candidate joins must broadcast ONLY while the
    candidate-pair relation is small (r15 verdict item 1): candidate
    mass scales with the corpus's duplicate mass, so at real-crawl dup
    rates these relations are corpus-scale and a forced broadcast is
    an OOM. Forced broadcast shows BroadcastHashJoin on the candidate
    keys; forced shuffle shows SortMergeJoin and none — both plans
    must agree row-for-row (the similarity.py rejoin discipline)."""
    from etl_generator_demo_spark.operators.dedup import verified_neardup_pairs
    from etl_generator_demo_spark.operators.relational import t

    docs = t(spark, sf_dir, "documents")

    bc = verified_neardup_pairs(docs, broadcast_candidates=True)
    bc_plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [doc_id" in bc_plan  # cand-doc semi prune
    assert "BroadcastHashJoin [doc_a" in bc_plan  # pair semi + card rejoin

    sh = verified_neardup_pairs(docs, broadcast_candidates=False)
    sh_plan = sh._jdf.queryExecution().executedPlan().toString()
    # no candidate-keyed join may broadcast (the shingle self-join is
    # unhinted — Catalyst/AQE sizes it from runtime stats, which is
    # exactly the contract; only the FORCED hints were the defect)
    assert "BroadcastHashJoin [doc_" not in sh_plan
    assert "SortMergeJoin [doc_id" in sh_plan
    assert "SortMergeJoin [doc_a" in sh_plan

    key = lambda r: (r["doc_a"], r["doc_b"])  # noqa: E731
    got_bc = sorted(bc.collect(), key=key)
    got_sh = sorted(sh.collect(), key=key)
    assert [key(r) for r in got_bc] == [key(r) for r in got_sh]
    for x, y in zip(got_bc, got_sh):
        assert abs(x["jaccard"] - y["jaccard"]) < 1e-12


# ---------------------------------------------------------------------------
# overlap kernel
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("with_candidates", [False, True])
def test_overlap_pairs_matches_brute_force(spark, with_candidates):
    """``overlap_pairs`` equals a pure-Python set intersection over
    every pair on a seeded random corpus: pairs sharing nothing are
    absent, cardinalities are the full set sizes, and ``candidates``
    keeps exactly the listed pairs (including listed pairs that share
    nothing, which stay absent)."""
    import itertools
    import random

    from etl_generator_demo_spark.operators.dedup import overlap_pairs

    rng = random.Random(11)
    sets = {d: set(rng.sample(range(12), rng.randint(1, 6))) for d in range(14)}
    rel = spark.createDataFrame(
        [(d, e) for d, s in sets.items() for e in s], "doc_id long, elem long"
    )
    pairs = list(itertools.combinations(sorted(sets), 2))
    cand = set(rng.sample(pairs, 30)) if with_candidates else set(pairs)
    want = {
        (a, b, len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
        for a, b in cand
        if sets[a] & sets[b]
    }
    candidates = (
        spark.createDataFrame(sorted(cand), "doc_a long, doc_b long")
        if with_candidates
        else None
    )
    got = {tuple(r) for r in overlap_pairs(rel, "elem", candidates).collect()}
    assert got == want


def test_ngram_jaccard_card_checkpoint_same_rows(spark, tmp_path):
    """The localCheckpointed cardinality relation (a deterministic
    single computation instead of a best-effort AQE exchange-reuse
    race) must keep ngram_jaccard_pairs row-identical, including the
    sub-threshold pair being dropped."""
    rows = [
        (0, "a b c d e f g h i j"),   # 6 5-gram shingles
        (1, "a b c d e f g h i j"),   # exact dup of 0 -> jaccard 1.0
        (2, "a b c d e f g h i x"),   # near dup -> shares 5 of 7
        (3, "z y x w v u t s r q"),   # disjoint -> no pair
    ]
    sh = doc_shingles(_docs(spark, rows))
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sh).collect()
    }
    assert got[(0, 1)] == 1.0
    assert (0, 2) in got and 0.5 <= got[(0, 2)] < 1.0
    assert got[(0, 2)] == got[(1, 2)]
    assert all(3 not in k for k in got)


def test_ngram_jaccard_card_computed_once_in_plan(spark, sf_dir):
    """The registered query's visible plan must not contain the per-doc
    cardinality aggregate twice: with the checkpoint the aggregate
    subtrees are gone from the final plan entirely (the two endpoint
    joins read the materialized relation), so a reuse race can never
    re-introduce a 4th exchange."""
    from etl_generator_demo_spark.operators.dedup import x2_ngram_jaccard_pairs

    df = x2_ngram_jaccard_pairs(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # both card sides must be scans of the one checkpointed RDD, not
    # re-derived aggregates over the shingle relation
    assert plan.count("LogicalRDD") >= 2


# ---------------------------------------------------------------------------
# tuning sweeps
# ---------------------------------------------------------------------------


def test_lsh_tuning_curve_monotone(spark, sf_dir):
    """Nested band subdivisions: a candidate under (1,8) survives every
    finer config, so counts are monotone in the band count."""
    from etl_generator_demo_spark.operators.dedup import (
        LSH_CONFIGS,
        x2_lsh_band_tuning_curve,
    )

    out = {r["bands"]: r for r in x2_lsh_band_tuning_curve(spark, sf_dir).collect()}
    assert set(out) == {b for b, _ in LSH_CONFIGS}
    assert (
        out[1]["n_candidate_pairs"]
        <= out[2]["n_candidate_pairs"]
        <= out[4]["n_candidate_pairs"]
        <= out[8]["n_candidate_pairs"]
    )


def test_jaccard_sweep_monotone_in_tau(spark, sf_dir):
    """Raising the threshold can only shrink the kept pair set."""
    from etl_generator_demo_spark.operators.dedup import x2_jaccard_threshold_sweep

    rows = x2_jaccard_threshold_sweep(spark, sf_dir).collect()
    pairs = [r["n_pairs"] for r in rows]  # ordered by tau asc
    docs = [r["n_docs_in_pairs"] for r in rows]
    assert pairs == sorted(pairs, reverse=True)
    assert docs == sorted(docs, reverse=True)


@pytest.mark.usefixtures("tmp_index_root")
def test_jaccard_sweep_single_pass_matches_brute_recount(spark, tmp_path):
    """The conditional-aggregation sweep (one flag projection, two
    aggregates) must equal a per-threshold recount — including a
    threshold bucket with ZERO qualifying pairs (the sum-over-empty ->
    0, never NULL, edge)."""
    from etl_generator_demo_spark.operators.dedup import (
        JACCARD_SWEEP,
        x2_jaccard_threshold_sweep,
    )
    from etl_generator_demo_spark.operators.relational import t

    spark.createDataFrame(
        [
            (0, "a b c d e f g h", "en", "srcT", 15),
            (1, "a b c d e f g z", "en", "srcT", 15),   # high overlap with doc0
            (2, "p q r s t u v w", "en", "srcT", 15),   # no overlap
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["tau_e2"]: r
        for r in x2_jaccard_threshold_sweep(spark, str(tmp_path)).collect()
    }
    # brute recount per threshold from first principles
    sh = doc_shingles(t(spark, str(tmp_path), "documents"))
    sets = {
        r["doc_id"]: set(r["s"])
        for r in sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s")).collect()
    }
    ids = sorted(sets)
    for num, den in JACCARD_SWEEP:
        pairs = [
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if len(sets[a] & sets[b]) * den
            >= num * len(sets[a] | sets[b])
            and len(sets[a] & sets[b]) > 0
        ]
        docs = {d for p in pairs for d in p}
        assert got[num]["n_pairs"] == len(pairs), (num, pairs)
        assert got[num]["n_docs_in_pairs"] == len(docs), (num, docs)
    # the planted corpus must actually exercise the empty bucket
    assert got[90]["n_pairs"] == 0 and got[90]["n_docs_in_pairs"] == 0


def test_minhash_k_sweep_error_decays(spark, sf_dir):
    """The estimator's contract on the fixture: worst-case error
    decays monotonically in k (each added slot can only refine the
    k-slot estimate's granularity: the estimate grid is 1/k, so the
    max error shrinks), and the largest signature beats the smallest
    on MSE. Mean error is NOT asserted monotone — LSH-selected
    candidate pairs are a small, band-match-biased sample, and the
    1/sqrt(k) law is an expectation, not a per-sample guarantee (k=4
    measured slightly above k=2 at sf0.001)."""
    from etl_generator_demo_spark.operators.dedup import (
        MINHASH_K_SWEEP,
        x2_minhash_k_sweep,
    )

    rows = {r["k"]: r for r in x2_minhash_k_sweep(spark, sf_dir).collect()}
    assert set(rows) == set(MINHASH_K_SWEEP)
    n_pairs = {r["n_pairs"] for r in rows.values()}
    assert len(n_pairs) == 1  # same pair relation at every k
    prev_max = None
    for k in sorted(rows):
        r = rows[k]
        assert 0 <= r["mean_abs_err_e6"] <= r["max_abs_err_e6"] <= 1_000_000
        assert r["mse_e12"] <= 10**12
        if prev_max is not None:
            assert r["max_abs_err_e6"] <= prev_max
        prev_max = r["max_abs_err_e6"]
    lo, hi = min(MINHASH_K_SWEEP), max(MINHASH_K_SWEEP)
    assert rows[hi]["mse_e12"] <= rows[lo]["mse_e12"]


def test_softdedup_weights_flatten_duplicates(spark, tmp_path):
    """Three copies of text A (weight 333333 each), one unique text B
    (weight 1000000). Sum of weights ~= number of DISTINCT texts (the
    SoftDeDup invariant, up to the floor loss: 3*333333 = 999999)."""
    from etl_generator_demo_spark.operators.dedup import x2_softdedup_weights

    rows = [(0, "a b c"), (1, "a b c"), (2, "a b c"), (3, "x y z w")]
    _write_docs(spark, str(tmp_path), rows)
    got = {r["doc_id"]: r for r in x2_softdedup_weights(spark, str(tmp_path)).collect()}
    assert {got[i]["n_copies"] for i in (0, 1, 2)} == {3}
    assert {got[i]["weight_e6"] for i in (0, 1, 2)} == {333_333}
    assert got[3]["n_copies"] == 1 and got[3]["weight_e6"] == 1_000_000
    assert got[0]["n_tokens"] == 3 and got[3]["n_tokens"] == 4
    total_weight = sum(r["weight_e6"] for r in got.values())
    assert total_weight == 999_999 + 1_000_000


def test_keep_best_selects_richest_variant(spark, tmp_path):
    """Docs 0/1/2 normalize to the same text; doc 1 is the raw-richest
    variant (extra whitespace -> more chars). Keep-best must pick doc 1
    where min-id dedup would pick doc 0."""
    from etl_generator_demo_spark.operators.dedup import (
        x1_dedup_keep_best,
        x1_dedup_normalized,
    )

    rows = [
        (0, "Hello World Foo"),
        (1, "hello   world    foo"),  # same normalized text, most chars
        (2, "hello world foo"),
        (3, "other text"),
    ]
    _write_docs(spark, str(tmp_path), rows)
    best = {r["keep_id"]: r for r in x1_dedup_keep_best(spark, str(tmp_path)).collect()}
    assert set(best) == {1, 3}
    assert best[1]["n_copies"] == 3
    assert best[1]["keep_n_chars"] == len("hello   world    foo")
    # contrast: the min-id policy keeps doc 0 for the same group
    minid = {r["keep_id"] for r in x1_dedup_normalized(spark, str(tmp_path)).collect()}
    assert 0 in minid and 1 not in minid


# ---------------------------------------------------------------------------
# Degenerate corpora: every near-dup family query against its DuckDB
# oracle on the sf0.001 fixture with `documents` replaced by no rows,
# one document, or three documents shorter than one shingle.
# ---------------------------------------------------------------------------

_FAMILY_MODULES = ("dedup", "setsim", "dedup_clusters", "dedup_incremental")


def _degenerate_documents(spark, sf_dir, shape):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").orderBy("doc_id")
    if shape == "empty":
        return docs.limit(0)
    if shape == "one_doc":
        return docs.limit(1)
    return docs.limit(3).withColumn("text", F.lit("a b"))  # short_docs


@pytest.mark.parametrize("shape", ["empty", "one_doc", "short_docs"])
def test_degenerate_corpus_matches_oracle(
    spark, sf_dir, replace_table, oracle_mismatches, shape
):
    from etl_generator_demo_spark.registry import load_all

    d = replace_table("documents", _degenerate_documents(spark, sf_dir, shape))
    family = {f"etl_generator_demo_spark.operators.{m}" for m in _FAMILY_MODULES}
    names = [n for n, rq in load_all().items() if rq.fn.__module__ in family]
    names.append("x4_quality_threshold_sweep")
    assert len(names) == 29
    bad = oracle_mismatches(d, names)
    assert not bad, bad


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        [(i, text, lang, "srcT", len(text)) for i, (text, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_cdc_chunking_is_shift_resistant(spark, tmp_path):
    """The CDC argument, demonstrated: a single token prepended to a
    40-token document kills every fixed-16-block match
    (x4_chunk_level_dedup finds nothing) while CDC boundaries
    resynchronize right after the edit and the shared suffix chunks
    still dedup."""
    from etl_generator_demo_spark.operators.packing import (
        x4_chunk_level_dedup,
    )
    from etl_generator_demo_spark.operators.dedup import (
        x2_cdc_chunk_dedup,
    )

    base = " ".join(f"w{i}" for i in range(40))
    _write_documents(
        spark, str(tmp_path), [(base, "en"), ("xnew " + base, "en")]
    )
    cdc = x2_cdc_chunk_dedup(spark, str(tmp_path)).collect()
    assert len(cdc) >= 5  # resynchronized shared chunks found
    assert all(r["n_docs"] == 2 and r["owner_doc"] == 0 for r in cdc)
    # >=70% of tokens recovered as duplicated content despite the shift
    assert sum(r["chunk_tokens"] for r in cdc) >= 28
    assert x4_chunk_level_dedup(spark, str(tmp_path)).count() == 0
