"""Text-analysis tests: lang-ID on real multilingual snippets (the
fixture corpus is same-vocabulary soup, so this is where the heuristic
is actually exercised), quality scoring monotonicity, fingerprints."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.textops import (
    lang_id_expr,
    quality_score_expr,
)

SNIPPETS = [
    (1, "the cat sat on the mat and it was happy that the sun is warm", "en"),
    (2, "el perro corre por la calle y los niños juegan en un parque con la pelota", "es"),
    (3, "der hund läuft durch die stadt und das ist nicht so schlecht von den leuten", "de"),
    (4, "le chat est dans la maison et les enfants jouent pour une heure dans le jardin", "fr"),
    (5, "我 的 是 一个 在 家 的 人 我 有 不 少 书 就 是 了", "zh"),
]


def test_lang_id_on_real_snippets(spark):
    df = spark.createDataFrame(
        [(i, s) for i, s, _ in SNIPPETS], "id long, text string"
    ).select("id", lang_id_expr("text").alias("lang"))
    got = {r["id"]: r["lang"] for r in df.collect()}
    for i, _, expected in SNIPPETS:
        assert got[i] == expected, f"snippet {i}: got {got[i]}, want {expected}"


def test_lang_id_unknown_text(spark):
    df = spark.createDataFrame([(1, "xyzzy qwerty plugh 12345")], "id long, text string")
    assert df.select(lang_id_expr("text").alias("l")).first()["l"] == "und"


def test_quality_score_ranks_texts_sanely(spark):
    rows = [
        (1, "the quick brown fox jumps over a lazy dog and it runs to the hills in the morning " * 3),
        (2, "spam spam spam spam spam spam spam spam"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["q"] for r in df.select("id", quality_score_expr("text").alias("q")).collect()}
    assert 0.0 <= got[2] < got[1] <= 1.0


def test_quality_score_bounds_on_fixture(spark, sf_dir):
    from etl_generator_demo_spark.operators.relational import t

    docs = t(spark, sf_dir, "documents")
    stats = docs.select(quality_score_expr("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).first()
    assert 0.0 <= stats["lo"] <= stats["hi"] <= 1.0


def test_sampling_deterministic_and_bounded(spark, sf_dir):
    from etl_generator_demo_spark.operators.textops import x4_sample_docs

    r1 = [(r["doc_id"], r["stratum"]) for r in x4_sample_docs(spark, sf_dir).collect()]
    r2 = [(r["doc_id"], r["stratum"]) for r in x4_sample_docs(spark, sf_dir).collect()]
    assert r1 == r2  # seeded sampling is reproducible
    n_uniform = sum(1 for _, s in r1 if s == "uniform")
    assert 20 <= n_uniform <= 90  # ~10% of 500 docs, Bernoulli variance


def test_fingerprint_stability_under_distant_edit(spark):
    """min-shingle fingerprint unchanged when the edit is far from the
    minimal shingle (the winnowing property), content hash changes."""
    from etl_generator_demo_spark.operators.dedup import doc_shingles
    base = "m1 m2 m3 m4 m5 tail1 tail2 tail3 tail4 tail5 tail6"
    edited = base + " extra"
    df = spark.createDataFrame([(1, base), (2, edited)], "doc_id long, text string")
    fps = (
        doc_shingles(df)
        .groupBy("doc_id")
        .agg(F.min(F.md5("shingle")).alias("fp"))
        .collect()
    )
    by_id = {r["doc_id"]: r["fp"] for r in fps}
    # same minimal shingle unless the edit introduced a smaller hash;
    # with this fixed data the property holds deterministically
    assert by_id[1] == by_id[2]


class TestPIIRedaction:
    def test_planted_pii_redacted_and_counted(self, spark):
        from etl_generator_demo_spark.operators.textops import (
            PII_PATTERNS,
            redact_pii_expr,
        )

        rows = [
            (1, "contact bob.smith+x@example.co.uk or +1 555-123-4567 now"),
            (2, "server at 192.168.001.1 port open, mail root@host.io"),
            (3, "no pii here at all"),
            (4, "call 555 1234 5678 twice: 555 1234 5678"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r["clean"]
            for r in df.select("doc_id", redact_pii_expr("text").alias("clean")).collect()
        }
        assert out[1] == "contact [EMAIL] or +1 [PHONE] now"
        assert out[2] == "server at [IPV4] port open, mail [EMAIL]"
        assert out[3] == "no pii here at all"
        assert out[4] == "call [PHONE] twice: [PHONE]"  # replaces ALL matches
        assert set(PII_PATTERNS) == {"email", "phone", "ipv4"}


class TestRepetitionScores:
    def test_degenerate_doc_flagged(self, spark, sf_dir):
        """A doc that is one phrase repeated must flag is_repetitive;
        the fixture's word soup must largely not."""
        from etl_generator_demo_spark.operators.textops import x4_repetition_scores
        import etl_generator_demo_spark.operators.textops as textops
        from pyspark.sql import functions as F

        fixture = x4_repetition_scores(spark, sf_dir).collect()
        flagged = sum(1 for r in fixture if r["is_repetitive"])
        assert flagged / len(fixture) < 0.2

        # planted: "spam ham " * 50 -> top bigram 'spam_ham' 50/99
        docs = spark.createDataFrame(
            [(1, " ".join(["spam", "ham"] * 50)), (2, " ".join(f"w{i}" for i in range(80)))],
            "doc_id long, text string",
        )
        docs.createOrReplaceTempView("planted")
        toks = F.split(F.col("text"), " ")
        bigrams = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit("_"), b),
        )
        counts = (
            docs.select("doc_id", F.explode(bigrams).alias("bigram"))
            .groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg((F.max("c") * 20 > F.sum("c")).alias("is_repetitive"))
        )
        got = {r["doc_id"]: r["is_repetitive"] for r in counts.collect()}
        assert got == {1: True, 2: False}


def test_bigram_lm_quality_invariants(spark, sf_dir):
    """MLE bigram log-probs are <= 0 (cb <= cp by construction), every
    doc with >= 2 tokens is scored, and n_bigrams = token_count - 1."""
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.relational import t
    from etl_generator_demo_spark.operators.textops import x4_bigram_lm_quality

    out = x4_bigram_lm_quality(spark, sf_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert all(r["avg_logprob"] <= 0 for r in rows.values())
    toks = {
        r["doc_id"]: r["n"]
        for r in t(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    for did, n in toks.items():
        if n >= 2:
            assert rows[did]["n_bigrams"] == n - 1


def test_winnowing_guarantees_shared_fingerprint_for_shared_runs(spark, sf_dir):
    """The winnowing theorem: two documents sharing a run of at least
    k+w-1 (= 8) tokens must share at least one selected fingerprint;
    unrelated texts share none; and selection is sparser than the full
    k-gram set."""
    from pyspark.sql import functions as F

    from etl_generator_demo_spark.operators.textops import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
        x4_winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four five six"),
            (2, f"red blue green {shared} yellow purple orange pink"),
            (3, "completely different words with nothing in common here at all ok"),
        ],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnowing_fingerprints(docs).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared 8-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])

    # density: selected set strictly smaller than the full k-gram set
    out = x4_winnowing_fingerprints(spark, sf_dir)
    per_doc = {r["doc_id"]: r["n"] for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    toks = {
        r["doc_id"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    for did, n_fp in per_doc.items():
        n_kgrams = toks[did] - WINNOW_K + 1
        assert 0 < n_fp <= max(1, n_kgrams - WINNOW_W + 1)


def test_dsir_importance_separates_target_language(spark, sf_dir):
    """English docs must score higher on the en-target importance than
    non-English docs on average, and the weight model must be finite."""
    from etl_generator_demo_spark.registry import load_all
    from etl_generator_demo_spark.catalog import read_table

    out = load_all()["x4_dsir_importance"].fn(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = out.join(docs, "doc_id").collect()
    en = [r.importance_e6 for r in joined if r.lang == "en"]
    other = [r.importance_e6 for r in joined if r.lang != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)
    # per-doc score is an integer sum of per-feature integer weights
    for r in joined:
        assert isinstance(r.importance_e6, int)
        assert r.n_feats > 0


def test_shingle_novelty_order_awareness(spark):
    """Of two identical docs, the lower id scores 1.0 novelty and the
    higher id 0.0 — the order-aware property coverage cannot express."""
    from etl_generator_demo_spark.operators.dedup import doc_shingles
    from pyspark.sql import functions as F

    text = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"z{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, other)], "doc_id long, text string"
    )
    sh = doc_shingles(docs)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    out = {
        r.doc_id: r.nov
        for r in sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("nov")
        )
        .collect()
    }
    assert out[1] == 1.0 and out[2] == 0.0 and out[3] == 1.0


def test_seqlen_cap_selection_invariants(spark, sf_dir):
    from etl_generator_demo_spark.registry import load_all
    import etl_generator_demo_spark.operators.textops as tx

    rows = load_all()["x4_seqlen_cap_selection"].fn(spark, sf_dir).collect()
    assert [r.cap for r in rows] == tx.SEQLEN_CAPS
    kept = [r.kept_tokens for r in rows]
    assert kept == sorted(kept)  # monotone in cap
    chosen = [r for r in rows if r.chosen]
    assert len(chosen) == 1
    c = chosen[0]
    assert c.meets_target
    # minimality: every smaller cap misses the target
    for r in rows:
        if r.cap < c.cap:
            assert not r.meets_target


def test_trigram_langid_separable_corpus(spark, sf_dir):
    """On the real fixture: diagonal dominates for en (largest class);
    output is a well-formed confusion matrix over the 5 langs."""
    from etl_generator_demo_spark.registry import load_all
    from etl_generator_demo_spark.catalog import read_table

    rows = load_all()["x4_trigram_langid_confusion"].fn(spark, sf_dir).collect()
    langs = {r.lang for r in read_table(spark, sf_dir, "documents").select("lang").distinct().collect()}
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert {r.actual for r in rows} <= langs
    assert {r.predicted for r in rows} <= langs
    # en diagonal beats any single en->other cell (weak but real signal)
    en = {r.predicted: r.n_docs for r in rows if r.actual == "en"}
    if "en" in en:
        assert en["en"] >= max(v for k, v in en.items() if k != "en") if len(en) > 1 else True


def test_hourly_top_events_invariants(spark, sf_dir):
    from etl_generator_demo_spark.registry import load_all

    rows = load_all()["st_hourly_top_events"].fn(spark, sf_dir).collect()
    by_w: dict = {}
    for r in rows:
        by_w.setdefault(r.window_start, []).append(r)
    for w, rs in by_w.items():
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        counts = [r.n_events for r in rs]
        assert counts == sorted(counts, reverse=True)
        assert len(rs) <= 3


def test_dsir_mixture_prefers_important_docs_within_budget(spark, sf_dir):
    from etl_generator_demo_spark.registry import load_all
    import etl_generator_demo_spark.operators.textops as tx

    rows = load_all()["x4_dsir_resampled_mixture"].fn(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    imp = {
        r.doc_id: r.importance_e6
        for r in load_all()["x4_dsir_importance"].fn(spark, sf_dir).collect()
    }
    for lang, rs in by_lang.items():
        # admitted in descending importance; budget respected
        imps = [r.importance_e6 for r in rs]
        assert imps == sorted(imps, reverse=True), lang
        for r in rs:
            assert r.tok_before < tx.DSIR_MIX_BUDGET
        # every non-admitted doc of this lang has importance <= the
        # lowest admitted one (no better doc was skipped)
        floor_imp = imps[-1]
        admitted = {r.doc_id for r in rs}
        from etl_generator_demo_spark.catalog import read_table

        all_lang = {
            r.doc_id
            for r in read_table(spark, sf_dir, "documents")
            .filter(F.col("lang") == lang)
            .select("doc_id")
            .collect()
        }
        for d in all_lang - admitted:
            assert imp[d] <= floor_imp, (lang, d)


def test_corpus_report_card_consistency(spark, sf_dir):
    from etl_generator_demo_spark.catalog import read_table
    from etl_generator_demo_spark.registry import load_all

    row = load_all()["x4_corpus_report_card"].fn(spark, sf_dir).collect()[0]
    docs = read_table(spark, sf_dir, "documents")
    assert row.n_docs == docs.count()
    assert row.n_langs == docs.select("lang").distinct().count()
    assert row.exact_dup_rate_e6 == 0  # fixture has no byte-identical docs
    # entropy bounded by ln(n_langs)
    import math

    assert 0 <= row.lang_entropy_e6 <= int(math.log(row.n_langs) * 1e6) + row.n_langs
    assert row.mean_tokens_e2 == row.total_tokens * 100 // row.n_docs


def test_quality_sweep_monotone_in_tau(spark, sf_dir):
    """Loosening the quality gate can only keep more docs; keep rate
    is the exact floor ratio of the counts."""
    from etl_generator_demo_spark.operators.textops import x4_quality_threshold_sweep

    rows = x4_quality_threshold_sweep(spark, sf_dir).collect()  # tau desc
    kept = [r["n_kept"] for r in rows]
    assert kept == sorted(kept)
    for r in rows:
        assert r["keep_rate_e6"] == r["n_kept"] * 1_000_000 // r["n_scored"]
        assert r["n_kept"] <= r["n_scored"]
