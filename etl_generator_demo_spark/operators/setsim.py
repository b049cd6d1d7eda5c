"""Set-similarity join with prefix filtering, and edit-distance
verification — SURVEY.md §2.12 X2 ([EXT], no reference counterpart).

Two classic near-dup tiers the shingle/MinHash suite doesn't cover:

- **token-overlap join (PPJoin-style prefix filter)**: pairs of
  documents whose *distinct-token* Jaccard ≥ t, found without an
  all-pairs join. Each document keeps only its ``|d| - ceil(t·|d|) + 1``
  rarest tokens (global document-frequency order — the canonical
  ordering of Chaudhuri et al.'s prefix filter / Xiao et al.'s PPJoin);
  any pair meeting the threshold must collide inside both prefixes, so
  the candidate join runs on the prefix relation only. Exact overlap is
  then computed solely for candidate pairs. The registered oracle is
  the *unfiltered brute-force* all-pairs Jaccard — a hash match proves
  the pruning lossless, not just self-consistent.
- **edit-distance pairs**: character-level Levenshtein over MinHash-LSH
  candidates (`dedup.lsh_candidate_pairs`). Levenshtein is O(len²) per
  pair — at 100 TB it is only ever a *verification* tier over an
  LSH-bounded candidate set, never a corpus join. Both engines ship the
  same unit-cost Levenshtein built-in, so the distances hash exactly.

Thresholds are exact integer arithmetic (``10·ov ≥ 9·union`` instead of
``ov/union ≥ 0.9``; ``ceil(9c/10) = (9c+9) div 10``) so the boundary is
engine-identical with no float round-trip.

Scale notes: the per-doc ROW_NUMBER ranking window partitions by
doc_id (bounded rows per partition); the document-frequency relation is
vocabulary-sized. The prefix self-join buckets on the *rarest* tokens,
which is exactly what keeps bucket sizes small on Zipfian text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators import tokens
from etl_generator_demo_spark.operators.dedup import (
    corpus_candidate_pairs,
    corpus_shingles,
    doc_lsh_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    overlap_pairs,
    _DUCK_LSH,
    _DUCK_SHINGLES,
    _duck_overlap,
)
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register

# Jaccard threshold as an exact rational: ov/union >= NUM/DEN.
JACCARD_NUM = 9
JACCARD_DEN = 10


def doc_tokens(df: DataFrame) -> DataFrame:
    """Distinct (doc_id, token) pairs — whitespace tokens, duplicates
    collapsed (set semantics; Jaccard is over token *sets*)."""
    return tokens.doc_tokens(df, "doc_id", tk="token").distinct()


def token_overlap_join(
    docs: DataFrame, num: int = JACCARD_NUM, den: int = JACCARD_DEN
) -> DataFrame:
    """All pairs with distinct-token Jaccard ≥ num/den via prefix
    filtering. Returns (doc_a, doc_b, overlap, union_size, jaccard).

    Plan shape: tokens → df counts (vocab-sized, map-combined) →
    per-doc rank window → prefix self-join (candidates) → exact
    overlap restricted to candidates (the overlap kernel with the
    prefix pairs as ``candidates``). No all-pairs stage anywhere.
    The distinct token relation feeds four consumers (cardinalities,
    document frequencies, the rank window, and both sides of the exact
    overlap join) — materialize it once instead of re-running the
    explode+distinct per branch."""
    tok = doc_tokens(docs).localCheckpoint(eager=True)
    card = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("card"))
    df_rel = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    # prefix_len = card - ceil(num*card/den) + 1, all-integer
    ranked = (
        tok.join(df_rel, "token")
        .join(card, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("token").asc())
            ),
        )
    )
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("card") - F.floor((num * F.col("card") + num) / den).cast("long") + 1
    ).select("doc_id", "token")

    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    union_size = F.col("card_a") + F.col("card_b") - F.col("inter")
    return (
        overlap_pairs(tok, "token", candidates=cand)
        .filter(den * F.col("inter") >= num * union_size)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("overlap"),
            union_size.cast("long").alias("union_size"),
            (F.col("inter").cast("double") / union_size).alias("jaccard"),
        )
    )


@register(
    "x2_token_overlap_join",
    # Deliberately brute-force (no prefix filter): hash equality proves
    # the Spark-side pruning drops no qualifying pair.
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, {tokens._duck_tokens("token")}
        FROM documents
    ),{_duck_overlap("tok", "token")}
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS overlap,
           CAST(card_a + card_b - inter AS BIGINT) AS union_size,
           CAST(inter AS DOUBLE) / (card_a + card_b - inter) AS jaccard
    FROM overlap
    WHERE {JACCARD_DEN} * inter >= {JACCARD_NUM} * (card_a + card_b - inter)
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_token_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token Jaccard ≥ 0.9 pairs via PPJoin-style prefix
    filtering (candidates from the rarest-token prefixes only)."""
    docs = t(spark, sf_dir, "documents")
    return token_overlap_join(docs).orderBy("doc_a", "doc_b")


def edit_distance_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Levenshtein distance + similarity (basis points) for MinHash-LSH
    candidate pairs. Texts join back to the narrow candidate relation
    co-keyed; the quadratic-in-length distance runs once per candidate,
    never per corpus pair."""
    cand = doc_lsh_pairs(docs, id_col=id_col, text_col=text_col)
    ta = docs.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("text_a"))
    tb = docs.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("text_b"))
    dist = F.levenshtein("text_a", "text_b")
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("edit_distance"),
            # floor-scaled similarity: identical float64 path both engines
            F.floor(
                10000 * (1 - dist.cast("double") / max_len)
            ).cast("long").alias("sim_bp"),
        )
    )


@register(
    "x2_edit_distance_pairs",
    oracle=f"""
    {_DUCK_SHINGLES},{_DUCK_LSH}
    SELECT doc_a, doc_b,
           CAST(LEVENSHTEIN(da.text, db.text) AS BIGINT) AS edit_distance,
           CAST(FLOOR(10000 * (1 - CAST(LEVENSHTEIN(da.text, db.text) AS DOUBLE)
                / GREATEST(LEN(da.text), LEN(db.text)))) AS BIGINT) AS sim_bp
    FROM cand
    JOIN documents da ON da.doc_id = doc_a
    JOIN documents db ON db.doc_id = doc_b
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Levenshtein verification over MinHash-LSH
    candidates (the string-edit tier next to shingle Jaccard)."""
    docs = t(spark, sf_dir, "documents")
    return edit_distance_pairs(docs).orderBy("doc_a", "doc_b")


CONTAIN_NUM = 9
CONTAIN_DEN = 10


@register(
    "x2_shingle_containment_pairs",
    oracle=f"""
    {_DUCK_SHINGLES},{_duck_overlap()},
    directed AS (
        SELECT doc_a AS contained, doc_b AS container, inter,
               card_a AS card_contained
        FROM overlap
        UNION ALL
        SELECT doc_b AS contained, doc_a AS container, inter,
               card_b AS card_contained
        FROM overlap
    )
    SELECT contained, container,
           CAST(inter AS BIGINT) AS inter,
           CAST(card_contained AS BIGINT) AS card_contained,
           CAST(inter AS DOUBLE) / card_contained AS containment
    FROM directed
    WHERE {CONTAIN_DEN} * inter >= {CONTAIN_NUM} * card_contained
    ORDER BY contained, container
    """,
    survey_ids=("X2",),
)
def x2_shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT ≥ 0.9 — |Sa∩Sb|/|Sa|,
    the detector for quote-inclusion and doc-inside-doc duplication
    that symmetric Jaccard misses entirely (a short doc embedded in a
    long one has tiny Jaccard but containment ≈ 1). Broder's resemblance
    vs containment distinction, applied at corpus curation.

    Same inverted-index join as the Jaccard tier (intersections
    computed once per unordered pair, then scored in both directions);
    all-integer threshold; at 100 TB this is the verification tier over
    LSH candidates, like every exact pair scorer here."""
    # shingles (persisted store) feed cardinalities + both sides of
    # the inverted-index join — materialize once
    sh = corpus_shingles(spark, sf_dir).localCheckpoint(eager=True)
    both = overlap_pairs(sh, "shingle")
    directed = both.select(
        F.col("doc_a").alias("contained"),
        F.col("doc_b").alias("container"),
        "inter",
        F.col("card_a").alias("card_contained"),
    ).unionByName(
        both.select(
            F.col("doc_b").alias("contained"),
            F.col("doc_a").alias("container"),
            "inter",
            F.col("card_b").alias("card_contained"),
        )
    )
    return (
        directed.filter(
            CONTAIN_DEN * F.col("inter") >= CONTAIN_NUM * F.col("card_contained")
        )
        .select(
            "contained",
            "container",
            F.col("inter").cast("long").alias("inter"),
            F.col("card_contained").cast("long").alias("card_contained"),
            (F.col("inter").cast("double") / F.col("card_contained")).alias(
                "containment"
            ),
        )
        .orderBy("contained", "container")
    )


@register(
    "x4_contrastive_triplets",
    oracle=f"""
    {_DUCK_SHINGLES},{_DUCK_LSH},
    pos AS (SELECT doc_a AS anchor, doc_b AS positive FROM cand),
    pool AS (
        SELECT doc_id FROM documents
        ORDER BY MD5('pool|' || CAST(doc_id AS VARCHAR)), doc_id
        LIMIT 1000
    ),
    cand_neg AS (
        SELECT p.anchor, p.positive, d.doc_id AS negative,
               ROW_NUMBER() OVER (
                   PARTITION BY p.anchor, p.positive
                   ORDER BY MD5('neg|' || CAST(p.anchor AS VARCHAR) || '|'
                                || CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS rk
        FROM pos p JOIN pool d
          ON d.doc_id <> p.anchor AND d.doc_id <> p.positive
        WHERE NOT EXISTS (
            SELECT 1 FROM pos q
            WHERE (q.anchor = p.anchor AND q.positive = d.doc_id)
               OR (q.anchor = d.doc_id AND q.positive = p.anchor)
               OR (q.anchor = p.positive AND q.positive = d.doc_id)
               OR (q.anchor = d.doc_id AND q.positive = p.positive)
        )
    )
    SELECT anchor, positive, negative
    FROM cand_neg WHERE rk = 1
    ORDER BY anchor, positive
    """,
    survey_ids=("X2", "X4"),
)
def x4_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplet mining for contrastive /
    embedding training: positives are MinHash-LSH near-dup pairs (the
    free supervision a dedup pipeline produces anyway), negatives are
    md5-rank-selected corpus docs verified NOT near-dup to either side
    — deterministic 'random' negatives, reproducible at any scale and
    partitioning. One triplet per positive pair.

    Plan: the corpus NEVER cross-joins the pairs. The negative pool is
    a md5-ranked top-1000 of the corpus (`orderBy(md5).limit` compiles
    to TakeOrderedAndProject — distributed partial top-k, bounded 1000
    rows at ANY corpus size, and layout-independent because the rank
    key is a pure function of doc_id). Only that bounded pool
    cross-joins the (tiny, broadcast) positive-pair relation, so the
    candidate relation is |pairs| x 1000 regardless of scale; the
    not-near-dup anti checks stay broadcast and the md5 rank window
    partitions per pair over <= 1000 candidates. A pool of 1000 makes
    a fully-linked pair (no clean negative in pool) vanishingly rare;
    such a pair drops from the output on both engines identically."""
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    pos = (
        corpus_candidate_pairs(spark, sf_dir)  # persisted band index when warm
        .select(F.col("doc_a").alias("anchor"), F.col("doc_b").alias("positive"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # doc ids near-dup-linked to any doc: for the NOT-near-dup check
    linked = pos.select(
        F.col("anchor").alias("x"), F.col("positive").alias("y")
    ).unionByName(
        pos.select(F.col("positive").alias("x"), F.col("anchor").alias("y"))
    )
    pool = (
        docs.select(F.col("doc_id").alias("negative"))
        .orderBy(
            F.md5(F.concat(F.lit("pool|"), F.col("negative").cast("string"))),
            F.col("negative"),
        )
        .limit(1000)
    )
    cand = (
        pos.crossJoin(F.broadcast(pool))
        .filter(
            (F.col("negative") != F.col("anchor"))
            & (F.col("negative") != F.col("positive"))
        )
        .join(
            F.broadcast(linked.withColumnRenamed("x", "anchor").withColumnRenamed("y", "negative")),
            ["anchor", "negative"],
            "left_anti",
        )
        .join(
            F.broadcast(linked.withColumnRenamed("x", "positive").withColumnRenamed("y", "negative")),
            ["positive", "negative"],
            "left_anti",
        )
    )
    rk = F.row_number().over(
        W.partitionBy("anchor", "positive").orderBy(
            F.md5(
                F.concat(
                    F.lit("neg|"),
                    F.col("anchor").cast("string"),
                    F.lit("|"),
                    F.col("negative").cast("string"),
                )
            ),
            F.col("negative"),
        )
    )
    return (
        cand.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("anchor", "positive", "negative")
        .orderBy("anchor", "positive")
    )


def _duck_bbit_match() -> str:
    return " + ".join(
        f"(CASE WHEN SUBSTR(sa.mh{i}, 8, 1) = SUBSTR(sb.mh{i}, 8, 1) "
        f"THEN 1 ELSE 0 END)"
        for i in range(8)
    )


@register(
    "x2_bbit_minhash_estimates",
    oracle=f"""
    {_DUCK_SHINGLES},{_DUCK_LSH},{_duck_overlap(candidates="cand")},
    matched AS (
        SELECT c.doc_a, c.doc_b, {_duck_bbit_match()} AS m
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    SELECT m.doc_a, m.doc_b,
           CAST(m.m AS BIGINT) AS n_matching_nibbles,
           CAST(GREATEST(16 * m.m - 8, 0) * 1000000 // 120 AS BIGINT)
               AS j_bbit_e6,
           COALESCE(CAST(o.inter * 1000000
                // (o.card_a + o.card_b - o.inter) AS BIGINT), 0)
               AS j_exact_e6
    FROM matched m
    LEFT JOIN overlap o ON o.doc_a = m.doc_a AND o.doc_b = m.doc_b
    ORDER BY m.doc_a, m.doc_b
    """,
    survey_ids=("X2",),
)
def x2_bbit_minhash_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & König 2010): keep only the last hex
    nibble (b=4 bits) of each of the 8 MinHash slots — 4 bytes per doc
    instead of 32 — and estimate Jaccard per LSH-candidate pair with
    the collision-corrected estimator Ĵ = (m/k − C)/(1 − C), C = 2^-b.
    The 8× signature-storage cut is what makes billion-doc signature
    stores fit in memory; the estimator's extra variance is the traded
    cost, visible here against the exact shingle Jaccard alongside.
    All-integer arithmetic: Ĵ_e6 = (16m − 8)·1e6 div 120 (clamped at
    0), exact Jaccard in e6 by integer division — every column hashes
    engine-identically."""
    sh = corpus_shingles(spark, sf_dir).localCheckpoint(eager=True)
    # signatures feed the band join + BOTH nibble sides — one groupBy
    sigs = minhash_signatures(sh.select("doc_id", "shingle"), num_hashes=8).localCheckpoint(
        eager=True
    )
    cand = lsh_candidate_pairs(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.substring(f"mh{i}", 8, 1).alias(f"na{i}") for i in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.substring(f"mh{i}", 8, 1).alias(f"nb{i}") for i in range(8)],
    )
    m = sum(
        F.when(F.col(f"na{i}") == F.col(f"nb{i}"), 1).otherwise(0) for i in range(8)
    )
    matched = (
        cand.join(sa, "doc_a").join(sb, "doc_b").select("doc_a", "doc_b", m.alias("m"))
    )
    return (
        matched.join(overlap_pairs(sh, "shingle", cand), ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.col("m").cast("long").alias("n_matching_nibbles"),
            F.expr("CAST(GREATEST(16 * m - 8, 0) * 1000000 DIV 120 AS BIGINT)").alias(
                "j_bbit_e6"
            ),
            F.expr(
                "COALESCE(CAST(inter * 1000000 DIV (card_a + card_b - inter) AS BIGINT), 0)"
            ).alias("j_exact_e6"),
        )
        .orderBy("doc_a", "doc_b")
    )
