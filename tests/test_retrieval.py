"""Semantics of the retrieval primitives (BM25, PMI) on planted data —
the oracle gate proves cross-engine hash identity; these tests prove
the scores mean what they claim."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """Tiny corpus with a known relevance ordering for query
    ('vector','spark','window'): doc 1 saturates all three terms,
    doc 2 hits one, doc 3 hits none."""
    out = str(tmp_path_factory.mktemp("retrieval"))
    rows = [
        (1, "vector spark window vector spark window vector"),
        (2, "spark table scan join merge sort filter"),
        (3, "table scan join merge sort filter group"),
        (4, "vector window table scan join merge sort"),
    ]
    _docs(spark, rows).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        out + "/documents.parquet"
    )
    return out


def test_bm25_ranks_saturated_doc_first_and_excludes_no_hit_docs(spark, planted):
    from etl_generator_demo_spark.operators.retrieval import x4_bm25_topk

    got = x4_bm25_topk(spark, planted).collect()
    ids = [r.doc_id for r in got]
    assert ids[0] == 1  # all three terms, highest tf
    assert 3 not in ids  # no query term -> no score row at all
    by_id = {r.doc_id: r for r in got}
    assert by_id[1].n_terms_hit == 3
    assert by_id[2].n_terms_hit == 1
    assert by_id[1].bm25_e6 > by_id[4].bm25_e6 > by_id[2].bm25_e6


def test_bm25_scores_match_closed_form(spark, planted):
    """Recompute doc 2's single-term score by hand from the BM25+
    formula the docstring claims."""
    from etl_generator_demo_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        x4_bm25_topk,
    )

    got = {r.doc_id: r.bm25_e6 for r in x4_bm25_topk(spark, planted).collect()}
    # corpus: 4 docs, all length 7 -> avgdl = 7, dl/avgdl = 1
    # 'spark' df=2 (docs 1,2); doc 2 tf=1
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    score = idf * (1 * (BM25_K1 + 1)) / (1 + BM25_K1 * (1 - BM25_B + BM25_B * 1.0))
    assert got[2] == math.floor(score * 1_000_000)


def test_pmi_separates_cooccurring_from_disjoint_pairs(spark, tmp_path_factory):
    from etl_generator_demo_spark.operators.retrieval import x4_pmi_cooccurrence

    out = str(tmp_path_factory.mktemp("pmi"))
    # 'alpha' and 'beta' always co-occur; 'alpha' and 'gamma' never do.
    rows = [
        (1, "alpha beta filler1"),
        (2, "alpha beta filler2"),
        (3, "gamma delta filler1"),
        (4, "gamma delta filler2"),
    ]
    _docs(spark, rows).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        out + "/documents.parquet"
    )
    got = {(r.term_a, r.term_b): r for r in x4_pmi_cooccurrence(spark, out).collect()}
    # P(alpha,beta)=1/2 = P(alpha)P(beta)*2 -> PMI = ln(2) > 0
    ab = got[("alpha", "beta")]
    assert ab.n_ab == 2
    assert ab.pmi_e6 == math.floor(math.log(2) * 1_000_000)
    # disjoint pair never co-occurs -> no row (n_ab would be 0)
    assert ("alpha", "gamma") not in got


def test_bm25_no_query_terms_in_corpus_yields_empty_not_error(spark, tmp_path_factory):
    from etl_generator_demo_spark.operators.retrieval import x4_bm25_topk

    out = str(tmp_path_factory.mktemp("noquery"))
    rows = [(1, "table scan join merge"), (2, "sort filter group agg")]
    _docs(spark, rows).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("t")
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        out + "/documents.parquet"
    )
    assert x4_bm25_topk(spark, out).count() == 0


class TestRRFHybrid:
    """Reciprocal-rank fusion pins (round 9): either-half survival,
    exact integer score arithmetic, pool-bounded output."""

    def test_top_of_either_half_survives_and_scores_are_exact(self, spark, sf_dir):
        from etl_generator_demo_spark.operators.retrieval import (
            RRF_K,
            RRF_TOP,
            x4_bm25_topk,
            x4_rrf_hybrid_topk,
        )

        fused = x4_rrf_hybrid_topk(spark, sf_dir).collect()
        assert 0 < len(fused) <= RRF_TOP
        by_id = {r.doc_id: r for r in fused}
        # the #1 BM25 doc must be in the fused top list: its single
        # RRF term 1e9//(k+1) already beats any doc ranked >= 4 in
        # both halves (2 * 1e9//(k+4) < 1e9//(k+1) for k=60 is false —
        # but it always beats rank-1-in-nothing, and empirically the
        # pools overlap; the hard guarantee tested here is presence)
        bm1 = x4_bm25_topk(spark, sf_dir).first().doc_id
        assert bm1 in by_id
        # score arithmetic is the exact integer form
        for r in fused:
            expect = 0
            if r.bm25_rank is not None:
                expect += 1_000_000_000 // (RRF_K + r.bm25_rank)
            if r.ann_rank is not None:
                expect += 1_000_000_000 // (RRF_K + r.ann_rank)
            assert r.rrf_score == expect
            assert r.bm25_rank is not None or r.ann_rank is not None

    def test_fused_order_is_score_then_id(self, spark, sf_dir):
        from etl_generator_demo_spark.operators.retrieval import x4_rrf_hybrid_topk

        fused = x4_rrf_hybrid_topk(spark, sf_dir).collect()
        keys = [(-r.rrf_score, r.doc_id) for r in fused]
        assert keys == sorted(keys)


class TestMMRAndPRF:
    def test_mmr_reduces_redundancy_vs_plain_topk(self, spark, sf_dir):
        """The MMR selection's max pairwise similarity must not exceed
        the plain top-k's (that is its objective), and rank 1 must be
        the qsim argmax."""
        import math

        from etl_generator_demo_spark.operators.ann_index import lsh_probe_topk
        from etl_generator_demo_spark.operators.relational import t
        from etl_generator_demo_spark.operators.retrieval import (
            MMR_SELECT,
            x3_mmr_diversified_topk,
        )

        emb = t(spark, sf_dir, "embeddings")
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
        pool = {
            int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in lsh_probe_topk(spark, sf_dir, qv, k=20, exclude_ids=(0,))
            .select("vec_id", "embedding")
            .collect()
        }

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (
                math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
            )

        sel = x3_mmr_diversified_topk(spark, sf_dir).collect()
        assert [r.rnk for r in sel] == list(range(1, len(sel) + 1))
        ids = [r.vec_id for r in sel]
        assert len(set(ids)) == len(ids) <= MMR_SELECT
        # rank 1 = plain qsim argmax (ties to smaller id)
        best = max(pool, key=lambda i: (cos(pool[i], qv), -i))
        assert ids[0] == best
        # diversity: max pairwise sim among MMR picks <= among the
        # plain top-|sel| by qsim
        plain = sorted(pool, key=lambda i: (-cos(pool[i], qv), i))[: len(ids)]

        def maxpair(lst):
            return max(
                cos(pool[a], pool[b]) for a in lst for b in lst if a != b
            )

        assert maxpair(ids) <= maxpair(plain) + 1e-12

    def test_prf_expands_with_non_query_terms(self, spark, sf_dir):
        from etl_generator_demo_spark.operators.retrieval import (
            BM25_QUERY_TERMS,
            PRF_EXP_TERMS,
            x4_prf_expansion_terms,
        )

        terms = x4_prf_expansion_terms(spark, sf_dir).collect()
        assert 0 < len(terms) <= PRF_EXP_TERMS
        for r in terms:
            assert r.term not in BM25_QUERY_TERMS
            assert r.df_fb >= 1


def test_query_likelihood_closed_form(spark, sf_dir):
    """QL recomputed in plain Python over the collected corpus (same
    mu, same e6 floors) must match the operator's top-k exactly, and
    every doc's score must be <= 0 (log-probs)."""
    import math

    from etl_generator_demo_spark.operators.relational import t
    from etl_generator_demo_spark.operators.retrieval import (
        BM25_QUERY_TERMS,
        BM25_TOP_K,
    )
    from etl_generator_demo_spark.operators.retrieval import (
        QL_MU,
        x4_query_likelihood_topk,
    )

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    c_len = sum(len(v) for v in docs.values())
    ctf = {
        q: sum(toks.count(q) for toks in docs.values())
        for q in BM25_QUERY_TERMS
    }
    want = []
    for did, toks in docs.items():
        dl = len(toks)
        score = 0
        hits = 0
        for q in BM25_QUERY_TERMS:
            tf = toks.count(q)
            hits += tf > 0
            score += math.floor(
                math.log((tf + QL_MU * (ctf[q] / c_len)) / (dl + QL_MU))
                * 1_000_000
            )
        want.append((did, score, hits))
    want.sort(key=lambda x: (-x[1], x[0]))
    got = [
        (r["doc_id"], r["ql_e6"], r["n_terms_hit"])
        for r in x4_query_likelihood_topk(spark, sf_dir).collect()
    ]
    assert got == want[:BM25_TOP_K]
    assert all(s < 0 for _, s, _ in got)
