"""Sequence packing — batch-prep for LLM training (SURVEY.md §2.12 X4
[EXT]; no reference counterpart).

Two packing disciplines, matching what real training pipelines run:

- **concat-and-chunk** (``x4_sequence_packing``): documents are
  concatenated in a deterministic order per source and the token
  stream is cut every ``CHUNK_TOKENS`` tokens; a document can straddle
  a boundary. This is the common pretraining shape (no padding waste)
  and is fully expressible as a window cumsum — one shuffle on
  (source), exact DuckDB oracle.
- **greedy next-fit bins** (``pack_documents_greedy``): whole
  documents only (instruction-tuning shape, no straddling) — bin
  boundaries depend on a sequential scan, so it runs as
  ``applyInPandas`` per source group, deterministic for a fixed
  intra-group order regardless of physical partitioning. Pinned by
  pytest invariants instead of SQL.

Scale: both are one shuffle on the grouping key. Per-source groups
bound the state either path carries; a 100 TB corpus packs in
parallel across sources (or any finer deterministic grouping column —
date, shard — threaded through ``group_cols``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.operators.skew import _HEX
from etl_generator_demo_spark.operators.stats import div
from etl_generator_demo_spark.operators.tokens import (
    _duck_n_tokens,
    _duck_token_positions,
    _duck_ws_split,
    n_tokens,
    ws_split,
)
from etl_generator_demo_spark.registry import register

CHUNK_TOKENS = 512


@register(
    "x4_sequence_packing",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST({_duck_n_tokens()} AS BIGINT) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
        FROM sized
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(tok_before / {CHUNK_TOKENS}) AS BIGINT) AS chunk_id,
           CAST(tok_before % {CHUNK_TOKENS} AS BIGINT)        AS offset_in_chunk,
           tok_before + n_tokens - 1 >= (FLOOR(tok_before / {CHUNK_TOKENS}) + 1) * {CHUNK_TOKENS}
               AS straddles_boundary
    FROM cum
    ORDER BY source, doc_id
    """,
    survey_ids=("X4",),
)
def x4_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing plan: per source, documents are laid
    end-to-end in doc_id order and the stream is cut every
    {CHUNK_TOKENS} tokens. chunk_id/offset tell the materialization
    step exactly where each document's tokens land; straddling docs
    continue into chunk_id+1. One window shuffle, no UDFs."""
    docs = t(spark, sf_dir, "documents")
    sized = docs.select("doc_id", "source", n_tokens().cast("long").alias("n_tokens"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = sized.withColumn("tok_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    chunk = F.floor(F.col("tok_before") / CHUNK_TOKENS)
    return (
        cum.select(
            "doc_id",
            "source",
            "n_tokens",
            chunk.cast("long").alias("chunk_id"),
            (F.col("tok_before") % CHUNK_TOKENS).alias("offset_in_chunk"),
            (F.col("tok_before") + F.col("n_tokens") - 1 >= (chunk + 1) * CHUNK_TOKENS).alias(
                "straddles_boundary"
            ),
        )
        .orderBy("source", "doc_id")
    )


def pack_documents_greedy(
    docs: DataFrame,
    capacity: int = CHUNK_TOKENS,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    group_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Whole-document next-fit packing: within each group (docs sorted
    by id) a document opens a new bin when it would overflow the
    current one. Oversized docs (> capacity) get a bin of their own.
    Returns input + (bin_id) where bin_id is unique per group.

    Sequential by nature → ``applyInPandas`` per group; deterministic
    because the scan order (id_col asc) is imposed inside the UDF, not
    inherited from partitioning."""
    cap = int(capacity)
    id_c, tok_c = id_col, token_col

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_c).reset_index(drop=True)
        bins, fill, cur = [], 0, 0
        for n in pdf[tok_c].tolist():
            if bins and fill + n > cap:
                cur += 1
                fill = 0
            bins.append(cur)
            fill += n
        return pdf.assign(bin_id=pd.Series(bins, dtype="int64"))

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ) + ", bin_id long"
    return docs.groupBy(*group_cols).applyInPandas(pack, out_schema)


#: Mixture recipe for the registered sampler: token budget per corpus
#: and language weights (en-heavy, the usual pretraining skew).
MIXTURE_BUDGET_TOKENS = 8_000
MIXTURE_WEIGHTS: dict[str, float] = {
    "en": 0.50,
    "es": 0.20,
    "de": 0.15,
    "fr": 0.10,
    "zh": 0.05,
}


def _mixture_alloc_sql() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {int(MIXTURE_BUDGET_TOKENS * w)}"
        for lang, w in MIXTURE_WEIGHTS.items()
    )
    return f"CASE lang {cases} ELSE 0 END"


@register(
    "x4_token_budget_mixture",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang,
               CAST({_duck_n_tokens()} AS BIGINT) AS n_tokens,
               MD5(CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM documents
    ),
    cum AS (
        SELECT doc_id, lang, n_tokens, shuffle_key,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY shuffle_key, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
        FROM sized
    )
    SELECT doc_id, lang, n_tokens, CAST(tok_before AS BIGINT) AS tok_before
    FROM cum
    WHERE tok_before < ({_mixture_alloc_sql()})
    ORDER BY lang, tok_before
    """,
    survey_ids=("X4",),
)
def x4_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture sampling to a token budget: each language gets
    budget*weight tokens, filled by documents in a deterministic
    pseudo-random order (md5 of doc_id — seedable, engine-portable,
    no RNG state) until the allocation is reached; the last document
    may straddle the cap (standard greedy prefix). One window shuffle
    on the mixture key; at 100 TB the same plan runs per
    (lang, shard) to keep window partitions bounded."""
    docs = t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        n_tokens().cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
    )
    w = Window.partitionBy("lang").orderBy("shuffle_key", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = sized.withColumn("tok_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    alloc = F.lit(0)
    for lang, wt in MIXTURE_WEIGHTS.items():
        alloc = F.when(F.col("lang") == lang, int(MIXTURE_BUDGET_TOKENS * wt)).otherwise(alloc)
    return (
        cum.filter(F.col("tok_before") < alloc)
        .select("doc_id", "lang", "n_tokens", "tok_before")
        .orderBy("lang", "tok_before")
    )


def _pipeline_chain_sql() -> str:
    from etl_generator_demo_spark.operators.dedup import _DUCK_LSH

    # identical staged discipline as the Spark plan; shingles/sigs are
    # computed over quality+exact-dedup SURVIVORS (stage order matters
    # and must match bit-for-bit). Shared by the pipeline oracle and
    # the attrition-report oracle.
    return f"""qual AS (
        SELECT doc_id, source, text,
               CAST({_duck_n_tokens()} AS BIGINT) AS n_tokens,
               CAST(LEN(LIST_DISTINCT({_duck_ws_split()})) AS DOUBLE)
                   / {_duck_n_tokens()} AS diversity
        FROM documents
        WHERE {_duck_n_tokens()} >= 30
          AND CAST(LEN(LIST_DISTINCT({_duck_ws_split()})) AS DOUBLE)
                   / {_duck_n_tokens()} >= 0.3
    ),
    exact AS (
        SELECT q.* FROM qual q
        JOIN (SELECT MD5(text) AS h, MIN(doc_id) AS keep_id FROM qual GROUP BY MD5(text)) k
          ON MD5(q.text) = k.h AND q.doc_id = k.keep_id
    ),
    tok AS ({_duck_token_positions("doc_id", src="exact")}),
    sh AS (
        SELECT doc_id,
               tk || '_' || LEAD(tk, 1) OVER w || '_' || LEAD(tk, 2) OVER w
                  || '_' || LEAD(tk, 3) OVER w || '_' || LEAD(tk, 4) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    shingles AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),{_DUCK_LSH},
    dropped AS (SELECT DISTINCT doc_b AS doc_id FROM cand),
    kept AS (
        SELECT e.doc_id, e.source, e.n_tokens
        FROM exact e
        WHERE e.doc_id NOT IN (SELECT doc_id FROM dropped)
    )"""


def _corpus_pipeline_oracle() -> str:
    return f"""
    WITH {_pipeline_chain_sql()},
    cum AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
        FROM kept
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(tok_before / {CHUNK_TOKENS}) AS BIGINT) AS chunk_id
    FROM cum
    ORDER BY source, doc_id
    """


def corpus_survivor_stages(spark: SparkSession, sf_dir: str):
    """The staged survivor relations of the corpus pipeline —
    (docs, qual, exact, kept) — shared by ``x4_corpus_pipeline`` and
    ``x4_pipeline_attrition`` so the two registered views of the same
    pipeline can never drift apart. Stage semantics documented on
    ``x4_corpus_pipeline``."""
    from etl_generator_demo_spark.operators.dedup import doc_lsh_pairs

    docs = t(spark, sf_dir, "documents")
    toks = ws_split()
    qual = (
        docs.select(
            "doc_id",
            "source",
            "text",
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("diversity"),
        )
        .filter((F.col("n_tokens") >= 30) & (F.col("diversity") >= 0.3))
    )
    keep = qual.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("keep_id"))
    exact = qual.join(
        keep,
        (F.md5(qual["text"]) == keep["h"]) & (qual["doc_id"] == keep["keep_id"]),
    ).select("doc_id", "source", "text", "n_tokens")
    dropped = doc_lsh_pairs(exact).select(F.col("doc_b").alias("doc_id")).distinct()
    kept = exact.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "source", "n_tokens"
    )
    return docs, qual, exact, kept


@register("x4_corpus_pipeline", oracle=_corpus_pipeline_oracle(), survey_ids=("X4", "X2", "X1"))
def x4_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-corpus pipeline end to end, one DataFrame plan:

    1. quality gate  — n_tokens >= 30 and vocabulary diversity >= 0.3
                       (scan-side, no shuffle);
    2. exact dedup   — keep the minimum doc_id per content hash;
    3. near-dup drop — greedy keep-first: any doc that LSH-pairs with
                       a SMALLER surviving id is dropped (the
                       transitive-closure discipline is
                       ``x2_dedup_clusters``; keep-first is the cheap
                       single-pass variant real ingest uses);
    4. packing       — concat-and-chunk chunk ids per source.

    Every stage is the registered standalone operator's logic inlined
    in the same order, so the composition is oracle-checked exactly —
    the point is proving the stages COMPOSE without collecting
    anything driver-side between them."""
    _docs, _qual, _exact, kept = corpus_survivor_stages(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = kept.withColumn("tok_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        cum.select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(F.col("tok_before") / CHUNK_TOKENS).cast("long").alias("chunk_id"),
        )
        .orderBy("source", "doc_id")
    )


@register(
    "x4_train_val_test_split",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 3) < 'e66' THEN 'train'
                WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 3) < 'f33' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    ORDER BY doc_id
    """,
    survey_ids=("X4",),
)
def x4_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/5/5 train/val/test assignment by hashing the
    document id and comparing the first 3 hex chars (4096 buckets:
    'e66' = 3686/4096 = 90.0%, 'f33' = 3891/4096 = 95.0%) — stable
    under corpus growth (a doc never changes split when new docs
    arrive, unlike row_number- or sample()-based splits), reproducible
    across engines with plain string comparison (no hex->int builtin
    needed), no RNG state. Scan-side expression, no shuffle."""
    docs = t(spark, sf_dir, "documents")
    pfx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3)
    return (
        docs.select(
            "doc_id",
            "lang",
            F.when(pfx < "e66", "train").when(pfx < "f33", "val").otherwise("test").alias(
                "split"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "x4_pack_bins_greedy",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({_duck_n_tokens()}) AS BIGINT) AS total_tokens,
           TRUE AS no_doc_dropped,
           TRUE AS fills_within_capacity,
           TRUE AS bins_le_2opt_plus1
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    survey_ids=("X4",),
)
def x4_pack_bins_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document next-fit packing stated as an INVARIANT VERDICT
    the oracle can hash: per source, the exact doc/token totals
    (value-verified by DuckDB) plus flags asserting (a) every document
    landed in exactly one bin, (b) every bin fits the {CHUNK_TOKENS}-
    token capacity unless it holds a single oversized doc, and (c) the
    bin count respects next-fit's 2·OPT+1 guarantee against the
    ceil(total/capacity) lower bound. DuckDB emits TRUE literals, so
    the value hash deterministically checks each invariant. The
    sequential bin boundary itself is not SQL-expressible; exact bin
    assignments and partitioning-independence are pinned in
    tests/test_packing.py."""
    docs = t(spark, sf_dir, "documents")
    sized = docs.select("doc_id", "source", n_tokens().cast("long").alias("n_tokens"))
    packed = pack_documents_greedy(sized)
    per_bin = packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("bin_docs"),
        F.sum("n_tokens").alias("fill_tokens"),
    )
    cap = F.lit(CHUNK_TOKENS)
    return (
        per_bin.groupBy("source")
        .agg(
            F.sum("bin_docs").alias("n_docs"),
            F.sum("fill_tokens").alias("total_tokens"),
            F.count(F.lit(1)).alias("n_bins"),
            F.min(
                (F.col("fill_tokens") <= cap) | (F.col("bin_docs") == 1)
            ).alias("fills_within_capacity"),
        )
        .join(
            sized.groupBy("source").agg(F.count(F.lit(1)).alias("corpus_docs")),
            "source",
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            (F.col("n_docs") == F.col("corpus_docs")).alias("no_doc_dropped"),
            "fills_within_capacity",
            (
                F.col("n_bins")
                <= 2 * F.ceil(F.col("total_tokens") / cap) + 1
            ).alias("bins_le_2opt_plus1"),
        )
        .orderBy("source")
    )


TEMP_ALPHA = 0.5
TEMP_SAMPLE_TOTAL = 200


@register(
    "x4_temperature_mixture",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    z AS (SELECT SUM(POW(n, {TEMP_ALPHA})) AS z FROM counts),
    targets AS (
        SELECT lang, n,
               CAST(FLOOR(POW(n, {TEMP_ALPHA}) / z.z * {TEMP_SAMPLE_TOTAL}) AS BIGINT)
                   AS target
        FROM counts, z
    ),
    ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT r.doc_id, r.lang, t.target AS lang_quota
    FROM ranked r JOIN targets t USING (lang)
    WHERE r.rk <= t.target
    ORDER BY r.lang, r.doc_id
    """,
    survey_ids=("X4",),
)
def x4_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted language mixture (alpha=0.5): sampling
    quotas proportional to n_lang^alpha — the standard multilingual-LM
    upsampling curve that flattens head languages and boosts the tail
    (alpha=1 is proportional, alpha=0 uniform). Quotas derive from one
    tiny per-lang count aggregate; selection is the deterministic
    md5-rank gate (layout-independent, reproducible at any scale —
    seeded .sample() is not). Compare ``x4_token_budget_mixture``,
    which allocates a TOKEN budget given fixed weights; this derives
    the weights from corpus statistics. One count shuffle + one
    per-lang window; the quota relation broadcasts."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    z = counts.agg(F.sum(F.pow("n", TEMP_ALPHA)).alias("z"))
    targets = counts.crossJoin(F.broadcast(z)).select(
        "lang",
        F.floor(F.pow("n", TEMP_ALPHA) / F.col("z") * TEMP_SAMPLE_TOTAL)
        .cast("long")
        .alias("lang_quota"),
    )
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
    return (
        ranked.join(F.broadcast(targets), "lang")
        .filter(F.col("rk") <= F.col("lang_quota"))
        .select("doc_id", "lang", "lang_quota")
        .orderBy("lang", "doc_id")
    )


CHUNK_LEN, CHUNK_STRIDE = 128, 96  # 32-token overlap


@register(
    "x4_chunk_with_overlap",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, {_duck_n_tokens()} AS n FROM documents
    ),
    chunks AS (
        SELECT doc_id, UNNEST(RANGE(0, n, {CHUNK_STRIDE})) AS start_tok, n
        FROM sized
    )
    SELECT doc_id,
           CAST(start_tok // {CHUNK_STRIDE} AS BIGINT)              AS chunk_idx,
           CAST(start_tok AS BIGINT)                                AS start_tok,
           CAST(LEAST(start_tok + {CHUNK_LEN}, n) - start_tok AS BIGINT)
               AS chunk_tokens,
           MD5(doc_id || ':' || start_tok)                          AS chunk_fp
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    survey_ids=("X4",),
)
def x4_chunk_with_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk plan: 128-token chunks on a 96-token
    stride (32-token overlap) per document — the standard RAG /
    long-document pretraining chunker, the overlapping complement of
    ``x4_sequence_packing``'s concat-and-chunk. The PLAN (which token
    spans become chunks, with a deterministic fingerprint per chunk)
    is computed scan-side from token counts alone: explode of a
    per-doc arithmetic sequence, NO shuffle except output order, and
    at 100 TB the chunk text itself is sliced in the downstream map
    stage reading only [start, start+len) — planning never touches
    payload bytes."""
    d = t(spark, sf_dir, "documents")
    sized = d.select("doc_id", n_tokens().alias("n"))
    chunks = sized.select(
        "doc_id",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))).alias("_s"),
    ).withColumn("start_tok", F.col("_s").cast("long"))
    return chunks.select(
        "doc_id",
        (F.col("start_tok") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        "start_tok",
        (F.least(F.col("start_tok") + CHUNK_LEN, F.col("n")) - F.col("start_tok"))
        .cast("long")
        .alias("chunk_tokens"),
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"), F.col("start_tok").cast("string")
            )
        ).alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "x4_pipeline_attrition",
    oracle=f"""
    WITH {_pipeline_chain_sql()},
    t0 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM({_duck_n_tokens()}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    t1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM qual),
    t2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM exact),
    t3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM kept)
    SELECT * FROM (
        SELECT 1 AS stage_no, 'total' AS stage, n_docs, n_tokens FROM t0
        UNION ALL
        SELECT 2, 'quality_pass', n_docs, n_tokens FROM t1
        UNION ALL
        SELECT 3, 'after_exact_dedup', n_docs, n_tokens FROM t2
        UNION ALL
        SELECT 4, 'after_neardup_drop', n_docs, n_tokens FROM t3
    )
    ORDER BY stage_no
    """,
    survey_ids=("X4", "X1", "X2"),
)
def x4_pipeline_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-attrition funnel of the corpus pipeline: document and
    token counts surviving each curation stage (total → quality gate →
    exact dedup → near-dup drop) — the report a data-curation run
    publishes alongside its output. Reuses the exact same staged
    relations as ``x4_corpus_pipeline`` (one shared builder on both
    the Spark and the oracle side), so the funnel always describes the
    pipeline as shipped. Each stage row is a scalar aggregate; the
    whole report is four map-combined counts unioned together."""
    docs, qual, exact, kept = corpus_survivor_stages(spark, sf_dir)

    def stage(no, name, df, tokens_col):
        return df.agg(
            F.lit(no).cast("int").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(tokens_col).cast("long").alias("n_tokens"),
        )

    t0 = stage(1, "total", docs.select(n_tokens().alias("nt")), "nt")
    t1 = stage(2, "quality_pass", qual, "n_tokens")
    t2 = stage(3, "after_exact_dedup", exact, "n_tokens")
    t3 = stage(4, "after_neardup_drop", kept, "n_tokens")
    return t0.unionByName(t1).unionByName(t2).unionByName(t3).orderBy("stage_no")


BLOCK_LEN = 16  # tokens per disjoint block for chunk-level dedup


@register(
    "x4_chunk_level_dedup",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {_duck_ws_split()} AS ts FROM documents
    ),
    blocks AS (
        SELECT doc_id, UNNEST(RANGE(0, LEN(ts), {BLOCK_LEN})) AS s, ts
        FROM tok
    ),
    bt AS (
        SELECT doc_id, s,
               ARRAY_TO_STRING(LIST_SLICE(ts, s + 1, s + {BLOCK_LEN}), ' ')
                   AS btext
        FROM blocks WHERE LEN(ts) - s >= {BLOCK_LEN}
    )
    SELECT MD5(btext) AS block_hash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc,
           CAST(MIN(s) FILTER (doc_id = (SELECT MIN(doc_id) FROM bt b2
                WHERE b2.btext = bt.btext)) AS BIGINT) AS keep_start
    FROM bt
    GROUP BY btext
    HAVING COUNT(DISTINCT doc_id) > 1
    ORDER BY block_hash
    """,
    survey_ids=("X1", "X4"),
)
def x4_chunk_level_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup: disjoint 16-token blocks hashed and
    grouped across the corpus — the sub-document boilerplate detector
    (shared headers, license blocks, navigation text) that DOC-level
    dedup cannot see and that RAG indexes must drop before embedding
    (identical chunks → identical vectors → wasted index slots and
    duplicated retrievals). Emits only cross-document duplicate blocks
    with a deterministic canonical keeper.

    Block slicing is scan-side (split + slice + hash — no Python); the
    only shuffle groups 32-byte hashes. At 100 TB the block relation is
    ~tokens/16 rows of tiny columns, and the HAVING prunes to the
    (rare) duplicated tail before anything joins back."""
    docs = t(spark, sf_dir, "documents")
    toks = ws_split()
    blocks = docs.select(
        "doc_id",
        toks.alias("ts"),
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(BLOCK_LEN))
        ).alias("s"),
    ).filter(F.size("ts") - F.col("s") >= BLOCK_LEN)
    bt = blocks.select(
        "doc_id",
        F.col("s").cast("long").alias("s"),
        F.concat_ws(" ", F.slice(F.col("ts"), F.col("s") + 1, F.lit(BLOCK_LEN))).alias(
            "btext"
        ),
    )
    from pyspark.sql import Window as W

    keep = F.min(F.struct(F.col("doc_id"), F.col("s"))).over(W.partitionBy("btext"))
    return (
        bt.withColumn("keep", keep)
        .groupBy("btext")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("keep.doc_id").cast("long").alias("keep_doc"),
            F.min("keep.s").cast("long").alias("keep_start"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            F.md5("btext").alias("block_hash"),
            "n_copies",
            "n_docs",
            "keep_doc",
            "keep_start",
        )
        .orderBy("block_hash")
    )


# ---------------------------------------------------------------------------
# packing context-length sweep
# ---------------------------------------------------------------------------

#: Context lengths swept (tokens per training sequence).
PACK_SWEEP_LENGTHS = (64, 128, 256, 512)


def _pack_sweep_oracle() -> str:
    lens = ", ".join(f"({v})" for v in PACK_SWEEP_LENGTHS)
    return f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST({_duck_n_tokens()} AS BIGINT) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS tok_before
        FROM sized
    ),
    src_tot AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
        FROM sized GROUP BY source
    ),
    per_l AS (
        SELECT l.l, c.doc_id,
               (c.tok_before + c.n_tokens - 1
                >= (c.tok_before // l.l + 1) * l.l) AS straddles
        FROM cum c CROSS JOIN (VALUES {lens}) AS l(l)
    ),
    chunks AS (
        SELECT l.l,
               CAST(SUM((s.src_tokens + l.l - 1) // l.l) AS BIGINT)
                   AS n_chunks
        FROM src_tot s CROSS JOIN (VALUES {lens}) AS l(l)
        GROUP BY l.l
    )
    SELECT CAST(p.l AS BIGINT) AS context_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE p.straddles) AS BIGINT)
               AS n_straddling_docs,
           CAST(COUNT(*) FILTER (WHERE p.straddles) * 1000000 // COUNT(*)
                AS BIGINT) AS straddle_rate_e6,
           CAST(MAX(c.n_chunks) AS BIGINT) AS n_chunks
    FROM per_l p JOIN chunks c ON c.l = p.l
    GROUP BY p.l
    ORDER BY context_len
    """


@register(
    "x4_packing_context_sweep",
    oracle=_pack_sweep_oracle(),
    survey_ids=("X4", "W3", "A1"),
)
def x4_packing_context_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing family's tuning curve: for each training context
    length, how many documents the concat-and-chunk layout
    (`x4_sequence_packing`'s model) splits across a sequence boundary
    — the boundary-breakage vs sequence-count tradeoff that picks a
    context length for a corpus (longer sequences -> fewer chunks but
    every straddled doc leaks attention across an EOD boundary). One
    sized+prefix-sum relation exploded across the four lengths (never
    four scans — the Jaccard-sweep discipline); the per-source prefix
    sum is the packing operator's own deterministic concat order."""
    sized = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        n_tokens().cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sized.select(
        "doc_id",
        "source",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_before"),
    )
    lens = spark.createDataFrame(
        [(v,) for v in PACK_SWEEP_LENGTHS], "l long"
    )
    per_l = cum.crossJoin(F.broadcast(lens)).select(
        "l",
        (
            F.col("tok_before") + F.col("n_tokens") - 1
            >= (F.expr("tok_before div l") + 1) * F.col("l")
        ).alias("straddles"),
    )
    src_tot = sized.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("src_tokens")
    )
    chunks = (
        src_tot.crossJoin(F.broadcast(lens))
        .groupBy("l")
        .agg(
            F.sum(F.expr("(src_tokens + l - 1) div l"))
            .cast("long")
            .alias("n_chunks")
        )
    )
    return (
        per_l.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("straddles"), 1))
            .cast("long")
            .alias("n_straddling_docs"),
        )
        .join(chunks, "l")
        .select(
            F.col("l").alias("context_len"),
            "n_docs",
            "n_straddling_docs",
            F.expr("n_straddling_docs * 1000000 div n_docs")
            .cast("long")
            .alias("straddle_rate_e6"),
            "n_chunks",
        )
        .orderBy("context_len")
    )


# ---------------------------------------------------------------------------
# data-constrained repeats audit (epochs + repeated-data value decay)
# ---------------------------------------------------------------------------

#: Token budget for the repeats audit — 10x the mixture sampler's
#: budget, deliberately larger than several languages' supply so the
#: epoch arithmetic is exercised (at bigger SFs supply grows and the
#: flags clear — the audit is data-derived, not baked in).
EPOCHS_BUDGET_TOKENS = 80_000
#: Repeated-epoch value-decay constant (Muennighoff et al. 2023,
#: "Scaling Data-Constrained Language Models": past ~4 epochs repeated
#: tokens lose most value; R* parametrizes the exponential decay).
EPOCHS_R_STAR = 15
#: Flag threshold: repeats beyond 4 epochs are the paper's
#: diminishing-returns cliff.
EPOCHS_FLAG = 4


def _epochs_oracle() -> str:
    alloc = " ".join(
        f"WHEN '{lang}' THEN {int(EPOCHS_BUDGET_TOKENS * w)}"
        for lang, w in MIXTURE_WEIGHTS.items()
    )
    eff = (
        f"CASE WHEN ep <= 1.0 THEN ep"
        f" ELSE 1.0 + {EPOCHS_R_STAR} * (1.0 - EXP(-(ep - 1.0) / {EPOCHS_R_STAR})) END"
    )
    return f"""
    WITH supply AS (
        SELECT lang,
               CAST(SUM({_duck_n_tokens()}) AS BIGINT)
                   AS avail_tokens,
               CAST(CASE lang {alloc} ELSE 0 END AS BIGINT) AS alloc_tokens
        FROM documents GROUP BY lang
    ),
    ep AS (
        SELECT lang, avail_tokens, alloc_tokens,
               CAST(alloc_tokens AS DOUBLE) / avail_tokens AS ep
        FROM supply
    )
    SELECT lang, avail_tokens, alloc_tokens,
           CAST(alloc_tokens * 1000000 // avail_tokens AS BIGINT)
               AS epochs_e6,
           CAST(FLOOR(({eff}) * 1000000) AS BIGINT) AS eff_epochs_e6,
           CAST(avail_tokens * CAST(FLOOR(({eff}) * 1000000) AS BIGINT)
                // 1000000 AS BIGINT) AS effective_tokens,
           alloc_tokens > {EPOCHS_FLAG} * avail_tokens AS over_4_epochs
    FROM ep
    ORDER BY lang
    """


@register(
    "x4_epochs_repeat_audit",
    oracle=_epochs_oracle(),
    survey_ids=("X4", "A1"),
)
def x4_epochs_repeat_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained repeats audit — the mixture-family member the
    budget/temperature/DoReMi/DSIR quartet still lacked: when the
    token budget times a language's weight EXCEEDS its supply, the
    sampler must repeat data, and repeated epochs decay in value
    (Muennighoff et al. 2023: roughly exponential with constant R*,
    negligible return past ~4 epochs). Per language: supply,
    allocation, raw epochs (e6), EFFECTIVE epochs under the decay
    (1 + R*(1 - e^{-(ep-1)/R*}) past one epoch), the effective token
    count that actually buys loss, and the >4-epoch flag that tells a
    mixture designer to re-weight before training, not after.

    One per-lang rollup (map-combined) + scan-side arithmetic —
    |langs|-bounded output, linear at any corpus size."""
    alloc = F.lit(0)
    for lang, w in reversed(MIXTURE_WEIGHTS.items()):
        alloc = F.when(F.col("lang") == lang, int(EPOCHS_BUDGET_TOKENS * w)).otherwise(alloc)
    ep = F.col("ep")
    eff = F.when(ep <= 1.0, ep).otherwise(
        1.0 + EPOCHS_R_STAR * (1.0 - F.exp(-(ep - 1.0) / EPOCHS_R_STAR))
    )
    eff_e6 = F.floor(eff * 1000000).cast("long")
    supply = (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.sum(n_tokens()).cast("long").alias("avail_tokens"))
        .withColumn("alloc_tokens", alloc.cast("long"))
    )
    return supply.withColumn(
        "ep", F.col("alloc_tokens").cast("double") / F.col("avail_tokens")
    ).select(
        "lang",
        "avail_tokens",
        "alloc_tokens",
        div(F.col("alloc_tokens") * 1000000, F.col("avail_tokens")).alias("epochs_e6"),
        eff_e6.alias("eff_epochs_e6"),
        div(F.col("avail_tokens") * eff_e6, F.lit(1000000)).alias("effective_tokens"),
        (F.col("alloc_tokens") > EPOCHS_FLAG * F.col("avail_tokens")).alias(
            "over_4_epochs"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# span-corruption plan (T5-style masking, deterministic)
# ---------------------------------------------------------------------------

#: Span start rate: a span starts at token p when the first 2 md5 hex
#: chars of 'span|doc|p' read below this bound (13/256 ~ 5% of
#: positions; with 3-token spans that targets ~15% corruption, the T5
#: noise density).
SPAN_START_BOUND = 13
#: Tokens masked per span start.
SPAN_LEN = 3


@register(
    "x4_span_corruption_plan",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               GENERATE_SUBSCRIPTS({_duck_ws_split()}, 1) - 1 AS pos,
               {_duck_n_tokens()} AS n_tokens
        FROM documents
    ),
    starts AS (
        SELECT doc_id, pos, n_tokens
        FROM tok
        WHERE (instr('{_HEX}', SUBSTR(MD5('span|' || CAST(doc_id AS VARCHAR)
                    || '|' || CAST(pos AS VARCHAR)), 1, 1)) - 1) * 16
              + instr('{_HEX}', SUBSTR(MD5('span|' || CAST(doc_id AS VARCHAR)
                    || '|' || CAST(pos AS VARCHAR)), 2, 1)) - 1
              < {SPAN_START_BOUND}
    ),
    masked AS (
        SELECT DISTINCT s.doc_id, s.pos + g.g AS mpos
        FROM starts s CROSS JOIN generate_series(0, {SPAN_LEN - 1}) AS g(g)
        JOIN tok t ON t.doc_id = s.doc_id AND t.pos = s.pos + g.g
    ),
    runs AS (
        SELECT m.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_masked,
               CAST(SUM(CASE WHEN p.mpos IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_spans
        FROM masked m
        LEFT JOIN masked p
          ON p.doc_id = m.doc_id AND p.mpos = m.mpos - 1
        GROUP BY m.doc_id
    ),
    nt AS (
        SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens
        FROM tok GROUP BY doc_id
    )
    SELECT nt.doc_id, nt.n_tokens,
           COALESCE(r.n_spans, 0) AS n_spans,
           COALESCE(r.n_masked, 0) AS n_masked,
           CAST(COALESCE(r.n_masked, 0) * 1000000 // nt.n_tokens AS BIGINT)
               AS corruption_e6
    FROM nt LEFT JOIN runs r ON r.doc_id = nt.doc_id
    ORDER BY nt.doc_id
    """,
    survey_ids=("X4", "A1", "F6"),
)
def x4_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLAN: which token spans each document
    masks for a denoising objective — deterministic (md5-gated span
    starts at ~5% of positions x 3-token spans ~ the 15% noise
    density), so every retraining and both engines pick identical
    spans, the same reproducibility argument as the md5 train/test
    split. Overlapping spans merge (distinct masked positions);
    reported spans are the MERGED maximal runs (a masked position
    opens a span iff position-1 is unmasked — counted with one keyed
    self-join, no window). Output per doc: tokens, spans, masked
    count, achieved corruption rate e6 — the objective-prep relation
    a pretraining pipeline materializes next to packing.

    Plan: one token explode -> md5 gate (scan-side) -> bounded
    SPAN_LEN× span explode -> distinct + keyed self-join + per-doc
    rollup. Linear; no all-pairs, no global window."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(ws_split()).alias("pos", "tk"),
        n_tokens().cast("long").alias("n_tokens"),
    )
    # the first two md5 hex digits of 'span|doc|pos' as an integer
    gate = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit("span"), F.col("doc_id").cast("string"), F.col("pos").cast("string"))),
            1,
            2,
        ),
        16,
        10,
    ).cast("long")
    starts = tok.filter(gate < SPAN_START_BOUND).select("doc_id", "pos")
    masked = (
        starts.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_LEN - 1))
            ).alias("mpos"),
        )
        .join(
            tok.select("doc_id", F.col("pos").alias("mpos")), ["doc_id", "mpos"]
        )
        .distinct()
    )
    prev = masked.select("doc_id", (F.col("mpos") + 1).alias("mpos"), F.lit(1).alias("has_prev"))
    runs = (
        masked.join(prev, ["doc_id", "mpos"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_masked"),
            F.sum(F.when(F.col("has_prev").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_spans"),
        )
    )
    nt = docs.select("doc_id", n_tokens().cast("long").alias("n_tokens"))
    return (
        nt.join(runs, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_masked", F.lit(0)).cast("long").alias("n_masked"),
            div(F.coalesce("n_masked", F.lit(0)) * 1000000, F.col("n_tokens")).alias(
                "corruption_e6"
            ),
        )
        .orderBy("doc_id")
    )
