"""Incremental dedup — dedupe a NEW document batch against an existing
corpus without re-processing the corpus (SURVEY.md §2.12 X2 [EXT]; no
reference counterpart — the reference has no dedup at all).

The recurring-ingest shape every training-data pipeline needs: the
corpus's MinHash band index is a *persisted artifact* (built once,
same cache idiom as ``ann_index.py``); each incoming batch computes
its own band keys map-side and probes the index with a broadcast join.

Cost model at 100 TB:
- index build: one linear pass over the corpus (shingle → minhash →
  band explode), written once; ~``BANDS`` narrow rows per doc.
- per-ingest probe: linear scan of the INDEX (never the corpus text)
  with the batch's band keys broadcast — zero corpus shuffle per
  batch. A daily 0.1% ingest touches 0.1% compute, not 100.1%.
- new batches append their own band rows to the index after admission,
  so the index stays current without rebuilds (append-only parquet).

Within-batch duplicates are a separate concern: run the regular
``lsh_candidate_pairs`` on the (small) batch for that; this module's
contract is batch-vs-corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from etl_generator_demo_spark.catalog import read_parquet_known
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.ann_index import index_store
from etl_generator_demo_spark.operators.dedup import (
    banded_keys,
    doc_shingles,
    minhash_signatures,
)
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register

#: Deterministic, scale-independent corpus/batch split for the
#: registered fixture query: every 5th doc is the "incoming batch".
BATCH_MOD = 5
BATCH_REMAINDER = 4


def document_bands(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band_id, band_key) for a document relation — the whole
    minhash pipeline, map-side except the per-doc signature groupBy."""
    return banded_keys(
        minhash_signatures(doc_shingles(docs, distinct=False), id_col=id_col),
        id_col=id_col,
    )


def ensure_corpus_band_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the corpus's band index (docs outside the batch split)
    once per fixture; return its path. Warm calls cost one stat."""

    def build(path):
        corpus = t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % BATCH_MOD != BATCH_REMAINDER
        )
        document_bands(corpus).write.mode("overwrite").parquet(path)

    return index_store(
        sf_dir, f"bands_m{BATCH_MOD}r{BATCH_REMAINDER}", build, table="documents"
    )[0]


def ensure_full_band_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the FULL corpus's band index (no batch split carved
    out) once per fixture; return its path. This is the ingest-time
    state the batch near-dup queries (`x2_minhash_lsh_pairs`,
    `x2_dedup_clusters`, triplet mining) probe at query time instead
    of re-running the shingle→minhash→band pipeline per run — same md5
    family as the DuckDB oracles, so served results stay hash-exact.
    Warm calls cost one stat."""

    def build(path):
        document_bands(t(spark, sf_dir, "documents")).write.mode(
            "overwrite"
        ).parquet(path)

    return index_store(sf_dir, "bands_full", build, table="documents")[0]


def ensure_shingle_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the full corpus's DISTINCT ``(doc_id, shingle)``
    relation once per fixture; return its path. This is the classic
    inverted-index materialization: shingling (the Arrow mapInPandas
    text pass) plus the distinct shuffle are ingest-time, and every
    shingle-set consumer — exact Jaccard, SimHash, containment,
    winnowing, dup-coverage — becomes a parquet scan at query time.
    Row-identical to ``doc_shingles(documents)`` by construction, so
    served results stay hash-exact against the DuckDB oracles. Warm
    calls cost one stat."""

    def build(path):
        # inverted-index layout: hash-partition by shingle (all copies
        # of a shingle in one file) and sort within partitions, so
        # parquet dictionary + delta encoding collapse the exploded
        # relation ~3x (unsorted, the store out-weighs the source text
        # and scan I/O eats the saved shingling CPU at the 100x tier).
        # Hash-32, NOT repartitionByRange: a small corpus's range
        # layout collapses to 1-2 hot files and AQE then starves the
        # downstream self-joins of scan parallelism; hash keeps a flat
        # file-count floor while preserving per-shingle adjacency.
        (
            doc_shingles(t(spark, sf_dir, "documents"))
            .repartition(32, "shingle")
            .sortWithinPartitions("shingle", "doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )

    return index_store(sf_dir, "shingles_distinct", build, table="documents")[0]


def incremental_dedup(
    corpus_bands: DataFrame, batch_bands: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(batch id, dup_of) for every batch doc that shares an LSH band
    with some corpus doc; dup_of = the smallest matching corpus id.

    The batch side is broadcast (a daily ingest is tiny next to the
    corpus), so the plan is ONE linear scan of the persisted index —
    no shuffle of anything corpus-sized."""
    probe = batch_bands.select(
        F.col(id_col).alias("_batch_id"), "band_id", "band_key"
    )
    return (
        corpus_bands.join(F.broadcast(probe), ["band_id", "band_key"])
        .groupBy("_batch_id")
        .agg(F.min(id_col).alias("dup_of"))
        .select(F.col("_batch_id").alias(id_col), "dup_of")
    )


#: Auto-OPTIMIZE threshold: once appends have fragmented the index
#: into more than this many part files, admission triggers compaction.
#: Small next to real fan-out (each daily append adds the batch's
#: write-parallelism in files; a year of ingests would otherwise leave
#: thousands of tiny files and the probe's scan time goes to
#: file-open/footer overhead, not data).
COMPACT_AFTER_FILES = 16


def _index_part_files(index_path: str) -> int:
    import glob

    return len(glob.glob(os.path.join(index_path, "part-*")))


def compact_band_index(
    spark: SparkSession, index_path: str, target_file_mb: int = 128
) -> tuple[int, int]:
    """OPTIMIZE pass for the append-only band index: rewrite to
    byte-sized files via the staged swap (`sources.mutations.
    compact_parquet` — same crash-recovery contract as the mutation
    paths). Pure layout change: probe results are identical pre/post
    (pinned in tests/test_dedup.py). Returns (files_before, after)."""
    from etl_generator_demo_spark.sources.mutations import compact_parquet

    return compact_parquet(spark, index_path, target_file_mb=target_file_mb)


def admit_batch_to_index(
    index_path: str,
    batch_bands: DataFrame,
    compact_after_files: int | None = COMPACT_AFTER_FILES,
) -> None:
    """After a batch is admitted, append its band rows so the next
    ingest dedups against it too — append-only parquet, no rebuild.
    When fragmentation crosses ``compact_after_files`` part files the
    index is auto-compacted (None disables); amortized over ingests
    the index stays one linear well-sized scan forever."""
    batch_bands.write.mode("append").parquet(index_path)
    if (
        compact_after_files is not None
        and _index_part_files(index_path) > compact_after_files
    ):
        compact_band_index(batch_bands.sparkSession, index_path)


# ===========================================================================
# Driver-checkable query
# ===========================================================================

def _incremental_oracle() -> str:
    from etl_generator_demo_spark.operators.dedup import _DUCK_LSH, _DUCK_SHINGLES

    return f"""
    {_DUCK_SHINGLES},{_DUCK_LSH},
    hits AS (
        SELECT b.doc_id, MIN(c.doc_id) AS dup_of
        FROM bands b
        JOIN bands c
          ON b.band_id = c.band_id AND b.band_key = c.band_key
        WHERE b.doc_id % {BATCH_MOD} = {BATCH_REMAINDER}
          AND c.doc_id % {BATCH_MOD} <> {BATCH_REMAINDER}
        GROUP BY b.doc_id
    )
    SELECT d.doc_id, h.dup_of, h.dup_of IS NULL AS is_novel
    FROM documents d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % {BATCH_MOD} = {BATCH_REMAINDER}
    ORDER BY d.doc_id
    """


@register("x2_dedup_incremental", oracle=_incremental_oracle(), survey_ids=("X2",))
def x2_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: every 5th document plays the incoming
    batch, the rest are the corpus whose band index is a PERSISTED
    artifact (built once per fixture, parquet in the index cache). The
    probe broadcasts the batch's band keys over one linear scan of the
    index; output marks each batch doc novel or dup-of-corpus. The
    oracle recomputes both sides from scratch in DuckDB and must agree
    with the index-backed plan exactly."""
    index_path = ensure_corpus_band_index(spark, sf_dir)
    corpus_bands = read_parquet_known(spark, index_path)
    batch = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % BATCH_MOD == BATCH_REMAINDER
    )
    hits = incremental_dedup(corpus_bands, document_bands(batch))
    return (
        batch.select("doc_id")
        .join(hits, "doc_id", "left")
        .withColumn("is_novel", F.col("dup_of").isNull())
        .orderBy("doc_id")
    )
