"""Sequence-packing tests: chunking arithmetic + greedy bin invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_chunking_arithmetic_covers_stream(spark, sf_dir):
    """Chunk ids are dense per source, offsets stay < capacity, and a
    doc straddles iff its span crosses a multiple of the capacity."""
    from etl_generator_demo_spark.operators.packing import (
        CHUNK_TOKENS,
        x4_sequence_packing,
    )

    rows = x4_sequence_packing(spark, sf_dir).collect()
    assert rows
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for docs in by_source.values():
        tok_before = 0
        for r in docs:  # already ordered by doc_id within source
            assert r["chunk_id"] == tok_before // CHUNK_TOKENS
            assert r["offset_in_chunk"] == tok_before % CHUNK_TOKENS
            end = tok_before + r["n_tokens"] - 1
            assert r["straddles_boundary"] == (
                end >= (r["chunk_id"] + 1) * CHUNK_TOKENS
            )
            tok_before += r["n_tokens"]


class TestGreedyPacking:
    def test_invariants_and_determinism(self, spark):
        from etl_generator_demo_spark.operators.packing import pack_documents_greedy

        rows = [
            (i, "s%d" % (i % 2), n)
            for i, n in enumerate([100, 400, 50, 600, 30, 30, 512, 1, 511, 2])
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
        out = pack_documents_greedy(df, capacity=512).collect()
        assert len(out) == len(rows)
        groups: dict[tuple, list] = {}
        for r in sorted(out, key=lambda r: (r["source"], r["doc_id"])):
            groups.setdefault(r["source"], []).append(r)
        for docs in groups.values():
            # bin ids are dense and non-decreasing in doc order
            assert docs[0]["bin_id"] == 0
            for a, b in zip(docs, docs[1:]):
                assert b["bin_id"] in (a["bin_id"], a["bin_id"] + 1)
            # fill <= capacity unless the bin holds one oversized doc
            fills: dict[int, int] = {}
            counts: dict[int, int] = {}
            for r in docs:
                fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tokens"]
                counts[r["bin_id"]] = counts.get(r["bin_id"], 0) + 1
            for b, fill in fills.items():
                assert fill <= 512 or counts[b] == 1
        # determinism under different partitioning
        again = pack_documents_greedy(df.repartition(7), capacity=512).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    def test_next_fit_exact_layout(self, spark):
        from etl_generator_demo_spark.operators.packing import pack_documents_greedy

        df = spark.createDataFrame(
            [(1, "a", 300), (2, "a", 300), (3, "a", 200), (4, "a", 10)],
            "doc_id long, source string, n_tokens long",
        )
        got = {
            r["doc_id"]: r["bin_id"]
            for r in pack_documents_greedy(df, capacity=512).collect()
        }
        # 300 | 300+200 would overflow? 300 -> bin0; 300 overflows (600>512) -> bin1;
        # 200 fits with 300 (500<=512) -> bin1; 10 fits (510) -> bin1
        assert got == {1: 0, 2: 1, 3: 1, 4: 1}


def test_token_budget_mixture_respects_allocations(spark, sf_dir):
    """Each language's sampled tokens reach its allocation (straddler
    allowed) without exceeding allocation + one document, and the
    selection is a deterministic function of doc_id."""
    from etl_generator_demo_spark.operators.packing import (
        MIXTURE_BUDGET_TOKENS,
        MIXTURE_WEIGHTS,
        x4_token_budget_mixture,
    )

    rows = x4_token_budget_mixture(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) <= set(MIXTURE_WEIGHTS)
    for lang, docs in by_lang.items():
        alloc = int(MIXTURE_BUDGET_TOKENS * MIXTURE_WEIGHTS[lang])
        total = sum(r["n_tokens"] for r in docs)
        # filled to the cap: every selected doc started under alloc,
        # and the selection covers it (total >= alloc) unless the
        # corpus ran out of that language entirely
        assert all(r["tok_before"] < alloc for r in docs)
        assert total >= alloc or len(docs) > 0
        max_doc = max(r["n_tokens"] for r in docs)
        assert total < alloc + max_doc + 1
    again = x4_token_budget_mixture(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_corpus_pipeline_stage_semantics(spark, sf_dir):
    """Survivors satisfy the quality gates, contain no exact-hash or
    LSH-pair duplicates among themselves, and chunk ids are dense."""
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from etl_generator_demo_spark.operators.packing import x4_corpus_pipeline
    from etl_generator_demo_spark.operators.relational import t

    out = x4_corpus_pipeline(spark, sf_dir).collect()
    assert out
    kept_ids = {r["doc_id"] for r in out}
    docs = t(spark, sf_dir, "documents")
    full = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(kept_ids) < len(full)  # something was filtered

    for r in out:
        toks = full[r["doc_id"]].split(" ")
        assert len(toks) >= 30
        assert len(set(toks)) / len(toks) >= 0.3
        assert r["n_tokens"] == len(toks)

    # no two survivors share a content hash
    texts = [full[i] for i in kept_ids]
    assert len(set(texts)) == len(texts)

    # no LSH pair has both endpoints surviving
    survivors = docs.filter(F.col("doc_id").isin(list(kept_ids)))
    pairs = lsh_candidate_pairs(
        minhash_signatures(doc_shingles(survivors, distinct=False))
    ).collect()
    assert pairs == []

    # chunk ids dense from 0 per source
    per_source: dict[str, list] = {}
    for r in out:
        per_source.setdefault(r["source"], []).append(r["chunk_id"])
    for chunks in per_source.values():
        assert chunks[0] == 0
        for a, b in zip(chunks, chunks[1:]):
            assert b in (a, a + 1)


def test_split_ratios_and_stability(spark, sf_dir):
    """Split fractions near 90/5/5, and assignment is a pure function
    of doc_id (stable under corpus growth: recompute on a subset gives
    identical labels)."""
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.packing import x4_train_val_test_split

    rows = x4_train_val_test_split(spark, sf_dir).collect()
    n = len(rows)
    frac = {s: sum(1 for r in rows if r["split"] == s) / n for s in ("train", "val", "test")}
    assert abs(frac["train"] - 0.90) < 0.05
    assert abs(frac["val"] - 0.05) < 0.03
    assert abs(frac["test"] - 0.05) < 0.03
    full = {r["doc_id"]: r["split"] for r in rows}
    # "growth stability": the label depends only on doc_id, so any
    # subset recomputation must agree
    import random

    sample_ids = random.Random(7).sample(sorted(full), 50)
    again = {
        r["doc_id"]: r["split"]
        for r in x4_train_val_test_split(spark, sf_dir)
        .filter(F.col("doc_id").isin(sample_ids))
        .collect()
    }
    assert all(again[i] == full[i] for i in sample_ids)


def test_temperature_mixture_flattens_the_head(spark, sf_dir):
    """alpha=0.5 quotas: sub-linear in language size (a lang with 4x
    the docs gets at most ~2x the quota), total within the sample
    budget, and selection deterministic across invocations."""
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.packing import (
        TEMP_SAMPLE_TOTAL,
        x4_temperature_mixture,
    )
    from etl_generator_demo_spark.operators.relational import t

    out = x4_temperature_mixture(spark, sf_dir)
    quotas = {
        r["lang"]: r["lang_quota"]
        for r in out.select("lang", "lang_quota").distinct().collect()
    }
    counts = {
        r["lang"]: r["n"]
        for r in t(spark, sf_dir, "documents").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert sum(quotas.values()) <= TEMP_SAMPLE_TOTAL
    for a in quotas:
        for b in quotas:
            if counts[a] >= 4 * counts[b] and quotas[b] > 0:
                # sqrt curve: 4x docs -> ~2x quota (+1 for floor slack)
                assert quotas[a] <= 2 * quotas[b] + 1
    # per-lang selection honors the quota exactly when enough docs exist
    sel = out.groupBy("lang").agg(F.count("*").alias("got")).collect()
    for r in sel:
        assert r["got"] == min(quotas[r["lang"]], counts[r["lang"]])
    # determinism
    again = {tuple(r) for r in x4_temperature_mixture(spark, sf_dir).collect()}
    assert again == {tuple(r) for r in out.collect()}


def test_chunk_with_overlap_spans_cover_every_token(spark, sf_dir):
    """Chunk spans tile each document: starts advance by the stride,
    consecutive chunks overlap by len-stride, the final chunk ends at
    n_tokens, and every token index is covered."""
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.packing import (
        CHUNK_LEN,
        CHUNK_STRIDE,
        x4_chunk_with_overlap,
    )
    from etl_generator_demo_spark.operators.relational import t

    chunks = {}
    for r in x4_chunk_with_overlap(spark, sf_dir).collect():
        chunks.setdefault(r["doc_id"], []).append(r)
    toks = {
        r["doc_id"]: r["n"]
        for r in t(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    for did, rows in chunks.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        n = toks[did]
        assert [r["start_tok"] for r in rows] == list(range(0, n, CHUNK_STRIDE))
        covered = set()
        for r in rows:
            end = r["start_tok"] + r["chunk_tokens"]
            assert end == min(r["start_tok"] + CHUNK_LEN, n)
            covered.update(range(r["start_tok"], end))
        assert covered == set(range(n))


def _write_documents(spark, path, n):
    spark.createDataFrame(
        [(i, f"doc {i} body tok{i % 7} tok{i % 3}", "en", "srcT", 20) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_packing_sweep_monotone_tradeoff(spark, sf_dir):
    """The tuning curve's contract: doubling the context length can
    only reduce (or keep) chunk count; straddle counts stay bounded by
    doc count; and the L -> infinity limit (one chunk per source, zero
    interior boundaries) is approached monotonically in chunks."""
    from etl_generator_demo_spark.operators.packing import (
        PACK_SWEEP_LENGTHS,
        x4_packing_context_sweep,
    )

    rows = {r["context_len"]: r for r in
            x4_packing_context_sweep(spark, sf_dir).collect()}
    assert set(rows) == set(PACK_SWEEP_LENGTHS)
    prev_chunks = None
    for L in sorted(rows):
        r = rows[L]
        assert 0 <= r["n_straddling_docs"] <= r["n_docs"]
        assert r["straddle_rate_e6"] == (
            r["n_straddling_docs"] * 1_000_000 // r["n_docs"]
        )
        if prev_chunks is not None:
            assert r["n_chunks"] <= prev_chunks
        prev_chunks = r["n_chunks"]


def test_epochs_repeat_audit_closed_form(spark, tmp_path):
    """One lang with supply 10 tokens: en weight 0.5 x budget 80000
    -> alloc 40000 -> epochs 4000x, flagged; effective epochs saturate
    at 1 + R* = 16 exactly (exp(-huge) -> 0)."""
    from etl_generator_demo_spark.operators.packing import (
        EPOCHS_R_STAR,
        x4_epochs_repeat_audit,
    )

    spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(10)), "en", "srcT", 40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = x4_epochs_repeat_audit(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["avail_tokens"], r["alloc_tokens"]) == (10, 40_000)
    assert r["epochs_e6"] == 4_000 * 1_000_000
    assert r["over_4_epochs"] is True
    # decay saturation: eff -> 1 + R*
    assert r["eff_epochs_e6"] == (1 + EPOCHS_R_STAR) * 1_000_000
    assert r["effective_tokens"] == 10 * (1 + EPOCHS_R_STAR)


@pytest.mark.slow
def test_span_corruption_matches_python_recompute(spark, tmp_path):
    """The md5 span gate recomputed in pure Python must reproduce the
    plan exactly: same starts, same merged-masked set, same run
    count."""
    import hashlib

    from etl_generator_demo_spark.operators.packing import (
        SPAN_LEN,
        SPAN_START_BOUND,
        x4_span_corruption_plan,
    )

    texts = [
        " ".join(f"t{j}" for j in range(60)),
        " ".join(f"u{j}" for j in range(25)),
    ]
    _write_documents(spark, str(tmp_path), len(texts))
    spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {r["doc_id"]: r for r in x4_span_corruption_plan(spark, str(tmp_path)).collect()}
    for did, text in enumerate(texts):
        n = len(text.split(" "))
        masked = set()
        for p in range(n):
            h = hashlib.md5(f"span|{did}|{p}".encode()).hexdigest()
            if int(h[:2], 16) < SPAN_START_BOUND:
                masked.update(q for q in range(p, p + SPAN_LEN) if q < n)
        spans = sum(1 for q in masked if q - 1 not in masked)
        r = got[did]
        assert (r["n_tokens"], r["n_spans"], r["n_masked"]) == (n, spans, len(masked))
        assert r["corruption_e6"] == len(masked) * 1_000_000 // n
