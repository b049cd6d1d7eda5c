"""Focused pins for the round-17 optimization changes: the session
conf parameterisation fixes (r16 ADVICE). The ngram-Jaccard
cardinality pins live with the overlap kernel in tests/test_dedup.py."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_shuffle_partitions_core_derived_when_env_unset(monkeypatch):
    """The '*' master path must derive partitions from the machine's
    core count, not fall back to the old constant 32 (r16 ADVICE: the
    docstring claimed core-derived, the code said 32)."""
    import os

    from etl_generator_demo_spark.session import _shuffle_partitions

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    assert _shuffle_partitions("*") == str(os.cpu_count() or 32)
    assert _shuffle_partitions("8") == "8"
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "17")
    assert _shuffle_partitions("*") == "17"


def test_sparkconf_passthrough_double_underscore_escape(monkeypatch):
    """'__' in a SPARK_GRAFT_SPARKCONF_ key maps to a literal '_'
    (r16 ADVICE: spark.hadoop.*/vendor keys can contain underscores)."""
    from etl_generator_demo_spark.session import _default_conf

    monkeypatch.setenv(
        "SPARK_GRAFT_SPARKCONF_spark_hadoop_my__vendor__key", "7"
    )
    monkeypatch.setenv(
        "SPARK_GRAFT_SPARKCONF_spark_sql_join_preferSortMergeJoin", "false"
    )
    conf = _default_conf()
    assert conf["spark.hadoop.my_vendor_key"] == "7"
    assert conf["spark.sql.join.preferSortMergeJoin"] == "false"


def test_neardup_dedup_placement_row_identical(spark, sf_dir):
    """r17 moved the cross-table candidate dedup AFTER the cosine
    filter on the broadcast rejoin plan (output-sized distinct; the
    shuffle plan keeps distinct-first). Duplicate pairs from different
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


def test_schema_memo_serves_and_invalidates(spark, tmp_path):
    """r17 schema memo: the second read of an unchanged parquet path is
    served from the memo with an IDENTICAL schema; rewriting the path
    (new mtime stamp) re-infers, so a changed file can never be read
    with a stale schema."""
    import time as _time

    from etl_generator_demo_spark.catalog import (
        _SCHEMA_MEMO,
        read_parquet_known,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(p)
    a = read_parquet_known(spark, p)
    import os

    key = os.path.abspath(p)
    assert key in _SCHEMA_MEMO
    b = read_parquet_known(spark, p)
    assert b.schema == a.schema
    assert sorted(r["v"] for r in b.collect()) == [0, 2, 4, 6, 8]

    _time.sleep(0.05)  # ensure a distinct mtime stamp
    spark.range(3).selectExpr(
        "id", "CAST(id AS STRING) AS v", "id AS extra"
    ).write.mode("overwrite").parquet(p)
    c = read_parquet_known(spark, p)
    assert dict(c.dtypes)["v"] == "string" and "extra" in c.columns
    assert c.count() == 3


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
    """The lru-cached named expression trees (_dot/_norm/cosine/
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


def test_bpe_last_apply_skipped_rows_identical(spark):
    """x4_bpe_merge_steps skips the dead final apply (the state after the
    last winner feeds nothing). Its winner rows must match the trainer
    that applies every step, on a corpus where merges cascade (the
    step-2 winner only exists after step 1 applied)."""
    from etl_generator_demo_spark.operators.bpe import (
        BPE_STEPS,
        bpe_train,
        bpe_trainer,
        corpus_words,
        vocabulary,
    )

    docs = spark.createDataFrame(
        [(i, "abab abc abab cab") for i in range(3)], "doc_id long, text string"
    )
    vocab = vocabulary(corpus_words(docs))
    words = [(list(r.word), r.wcount) for r in vocab.collect()]
    with_last_apply, _ = bpe_train(words, BPE_STEPS)
    assert len(with_last_apply) == BPE_STEPS
    got = bpe_trainer(vocab).collect()
    assert [tuple(r) for r in got] == [
        (k, *m) for k, m in enumerate(with_last_apply, 1)
    ]


def test_bpe_last_apply_skipped_pure():
    """The same invariant on the pure-Python trainer."""
    from etl_generator_demo_spark.operators.bpe import BPE_STEPS, bpe_train

    words = [(list("abab"), 6), (list("abc"), 3), (list("cab"), 3)]
    skipped, none = bpe_train(words, BPE_STEPS, final_state=False)
    applied, states = bpe_train(words, BPE_STEPS)
    assert none is None and states
    assert skipped == applied
