"""PQ encoding, containment pairs, keyset pagination, EXCEPT ALL."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_containment_detects_embedded_document(spark):
    """A short doc fully quoted inside a long one: containment ~1 in one
    direction only, Jaccard small."""
    from etl_generator_demo_spark.operators.dedup import doc_shingles
    from etl_generator_demo_spark.operators.setsim import CONTAIN_DEN, CONTAIN_NUM

    short = " ".join(f"q{i}" for i in range(10))
    long_ = " ".join(f"w{i}" for i in range(40)) + " " + short
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    sh = doc_shingles(docs)
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("card"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .count()
    )
    cards = {r.doc_id: r.card for r in card.collect()}
    # the short doc's shingles all appear in the long doc
    assert inter == cards[1]
    assert CONTAIN_DEN * inter >= CONTAIN_NUM * cards[1]  # contained direction
    assert CONTAIN_DEN * inter < CONTAIN_NUM * cards[2]  # not the reverse


def test_keyset_page_equals_offset_page(spark, sf_dir):
    """Keyset page-2 (rows 101-150) must equal OFFSET 100 LIMIT 50 under
    the same total order."""
    from etl_generator_demo_spark.catalog import read_table
    from etl_generator_demo_spark.registry import load_all

    got = load_all()["o_keyset_page"].fn(spark, sf_dir).collect()
    want = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .offset(100)
        .limit(50)
        .collect()
    )
    assert [r.o_orderkey for r in got] == [r.o_orderkey for r in want]


def test_except_all_bag_semantics(spark):
    df = spark.createDataFrame(
        [(1, "1-URGENT", "O")] * 3
        + [(1, "2-HIGH", "F")] * 1
        + [(2, "1-URGENT", "F")] * 2
        + [(2, "1-URGENT", "O")] * 0
        + [(2, "3-MEDIUM", "F")] * 1,
        "o_custkey long, o_orderpriority string, o_orderstatus string",
    )
    df.createOrReplaceTempView("orders")
    from etl_generator_demo_spark.operators.windows_sets import _EXCEPT_ALL_SQL

    rows = [r.o_custkey for r in spark.sql(_EXCEPT_ALL_SQL).collect()]
    # urgent bag: {1:3, 2:2}; finished bag: {1:1, 2:3} -> {1: 2, 2: 0}
    assert rows == [1, 1]
