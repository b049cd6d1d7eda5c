"""Session configuration: shuffle-partition derivation and the
``SPARK_GRAFT_SPARKCONF_`` passthrough."""

from __future__ import annotations


def test_shuffle_partitions_core_derived_when_env_unset(monkeypatch):
    """The '*' master path derives partitions from the machine's core
    count, not from a fixed constant."""
    import os

    from etl_generator_demo_spark.session import _shuffle_partitions

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    assert _shuffle_partitions("*") == str(os.cpu_count() or 32)
    assert _shuffle_partitions("8") == "8"
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "17")
    assert _shuffle_partitions("*") == "17"


def test_sparkconf_passthrough_double_underscore_escape(monkeypatch):
    """'__' in a SPARK_GRAFT_SPARKCONF_ key maps to a literal '_'
    (spark.hadoop.*/vendor keys can contain underscores)."""
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
