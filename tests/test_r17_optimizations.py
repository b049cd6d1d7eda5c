"""Focused pins for the round-17 optimization changes: the session
conf parameterisation fixes (r16 ADVICE). The ngram-Jaccard
cardinality pins live with the overlap kernel in tests/test_dedup.py,
the vector-family pins in tests/test_similarity.py."""

from __future__ import annotations


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
