"""Near-dup cluster resolution — pairs → clusters → keep/drop.

LSH emits candidate *pairs*; an actual dedup needs the transitive
closure (A~B, B~C ⇒ {A,B,C} are one group) and a canonical survivor
per group. This module finishes the X2 pipeline (SURVEY.md §2.12; no
reference counterpart — the reference has no dedup at all):

- ``connected_components`` (``graph.py``): min-label propagation with
  pointer doubling, O(log n) rounds to a proven fixpoint; the
  component id is the minimum doc_id of the component.
- ``dedup_corpus``: attach cluster_id to the corpus and mark the
  minimum id of each cluster as the canonical keeper. Downstream,
  training pipelines ``filter(is_keep)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.dedup import (
    _DUCK_LSH,
    _DUCK_SHINGLES,
    corpus_candidate_pairs,
)
from etl_generator_demo_spark.operators.graph import connected_components
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register


def dedup_corpus(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus + (cluster_id, is_keep): one canonical row per near-dup
    cluster (the minimum id), everything else marked droppable."""
    cc = connected_components(docs.select(id_col), pairs, id_col=id_col)
    return docs.join(cc, id_col).withColumn(
        "is_keep", F.col("cluster_id") == F.col(id_col)
    )


# ===========================================================================
# Driver-checkable query
# ===========================================================================

_CLUSTER_ORACLE = f"""
    {_DUCK_SHINGLES.replace("WITH tok", "WITH RECURSIVE tok", 1)},{_DUCK_LSH},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           MIN(dst) AS cluster_id,
           MIN(dst) = src AS is_keep
    FROM reach
    GROUP BY src
    ORDER BY doc_id
    """


@register("x2_dedup_clusters", oracle=_CLUSTER_ORACLE, survey_ids=("X2",))
def x2_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: MinHash-LSH candidate pairs →
    connected components → per-doc (cluster_id, is_keep). The oracle is
    DuckDB's recursive-CTE transitive closure over the identical pair
    set, so cluster assignment is hash-checked exactly."""
    docs = t(spark, sf_dir, "documents")
    pairs = corpus_candidate_pairs(spark, sf_dir)  # persisted band index when warm
    cc = connected_components(docs.select("doc_id"), pairs)
    return (
        cc.withColumn("is_keep", F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id", "cluster_id", "is_keep")
        .orderBy("doc_id")
    )


@register(
    "x2_cluster_size_histogram",
    oracle=f"""
    SELECT n_members,
           CAST(COUNT(*) AS BIGINT)      AS n_clusters,
           CAST(SUM(n_members) AS BIGINT) AS n_docs
    FROM (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM ( {_CLUSTER_ORACLE} ) c
        GROUP BY cluster_id
    )
    GROUP BY n_members
    ORDER BY n_members
    """,
    survey_ids=("X2", "A1"),
)
def x2_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup family-size distribution: how many clusters of each
    cardinality the corpus resolves into (singletons = unique docs;
    the heavy tail = template spam worth source-level review). The
    report every dedup run publishes next to its drop rate. Two
    map-combined groupBys over the cluster assignment; the oracle
    wraps the same recursive-closure chain, so the histogram is
    hash-exact."""
    cc = x2_dedup_clusters(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        sizes.groupBy("n_members")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("n_members").cast("long").alias("n_docs"),
        )
        .orderBy("n_members")
    )


@register(
    "x2_golden_records",
    oracle=f"""
    WITH cc AS ( {_CLUSTER_ORACLE} )
    SELECT cc.cluster_id,
           CAST(MIN(d.doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(d.n_chars) AS BIGINT) AS best_n_chars,
           STRING_AGG(DISTINCT d.source, ',' ORDER BY d.source) AS sources_csv,
           STRING_AGG(DISTINCT d.lang, ',' ORDER BY d.lang) AS langs_csv
    FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    GROUP BY cc.cluster_id
    HAVING COUNT(*) > 1
    ORDER BY cc.cluster_id
    """,
    survey_ids=("X2", "A1"),
)
def x2_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: collapse each near-dup family into ONE golden
    record — the MDM step after cluster resolution. Rules here: keep
    the lowest id as canonical, surface the richest text length, and
    union the provenance (sources, langs) as sorted CSV so nothing the
    duplicates knew is lost. Only multi-member clusters are emitted
    (singletons need no merge).

    One join of the cluster assignment back to the doc attributes +
    one grouped aggregate; collect_set stays bounded by cluster size,
    which the LSH threshold bounds in turn."""
    docs = t(spark, sf_dir, "documents")
    pairs = corpus_candidate_pairs(spark, sf_dir)  # persisted band index when warm
    cc = connected_components(docs.select("doc_id"), pairs)
    return (
        cc.join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max("n_chars").cast("long").alias("best_n_chars"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
                "sources_csv"
            ),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs_csv"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("cluster_id")
    )
