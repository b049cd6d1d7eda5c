"""Driver-built SQL text on edge inputs: non-finite literal vectors and
empty multi-probe bucket lists must not produce text Spark cannot
parse (the empty-HITS case lives in test_graph.py)."""

from __future__ import annotations

import math
import struct

from pyspark.sql import functions as F


def test_lit_double_array_finite_matches_f_lit(spark):
    from etl_generator_demo_spark.operators.similarity import lit_double_array

    vals = [0.1, -0.0, 5e-324, -1.7976931348623157e308, 2.0]
    row = spark.range(1).select(
        F.array(*[F.lit(v) for v in vals]).alias("a"),
        lit_double_array(vals).alias("b"),
    ).first()
    assert [struct.pack("d", x) for x in row.a] == [struct.pack("d", x) for x in row.b]


def test_lit_double_array_non_finite_parses(spark):
    from etl_generator_demo_spark.operators.similarity import lit_double_array

    got = spark.range(1).select(
        lit_double_array([math.nan, math.inf, -math.inf, 1.5]).alias("v")
    ).first().v
    assert math.isnan(got[0])
    assert got[1:] == [math.inf, -math.inf, 1.5]


def test_multiprobe_empty_bucket_list_parses(spark, sf_dir, monkeypatch):
    """A table whose probe list is empty is left out of the OR clause;
    the other tables' probes still run."""
    from etl_generator_demo_spark.catalog import read_table
    from etl_generator_demo_spark.operators import ann_index

    emb = read_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    full = ann_index.multiprobe_buckets(q, ann_index.LSH_TABLES, ann_index.LSH_PLANES)
    monkeypatch.setattr(
        ann_index,
        "multiprobe_buckets",
        lambda *a, **k: [full[0]] + [[] for _ in full[1:]],
    )
    got = ann_index.lsh_multiprobe_topk(spark, sf_dir, q, k=5).collect()
    assert got and got[0].vec_id == 0

