"""Deduplication operators — SURVEY.md §2.12 X1/X2 ([EXT], no
reference counterpart; north-star BASELINE.json).

Four tiers, all pure DataFrame/built-in-function plans (JVM-side,
whole-stage-codegen; no Python UDFs anywhere):

- exact:          hash-groupBy on a normalized key (X1)
- MinHash + LSH:  shingle -> k md5-min signatures -> banded bucket
                  join (X2) — the 100 TB path: candidate generation is
                  a groupBy on band keys, never an all-pairs join
- n-gram Jaccard: inverted-index join on distinct shingles -> exact
                  Jaccard on candidates (verification tier; pairs
                  sharing zero shingles never materialize)
- SimHash:        sign-of-sum fingerprints (16-bit demo groups; 64-bit
                  4x16-band Manku-setting hamming<=3 pairs)

Every exact pair scorer (Jaccard, containment, the estimator checks,
the threshold sweep, setsim's token join) reads ONE overlap kernel,
`overlap_pairs`; every MinHash candidate set comes from
`pairs_from_banded`. The oracles mirror both: `_duck_bands` spells the
band layout from NUM_HASHES/BANDS, `_DUCK_LSH` and `_duck_overlap` sit
on top of it. The tuning sweeps (band factorizations, Jaccard
thresholds, signature size k) live here beside the operators they tune,
and so do the keep policies beyond min-id (SoftDeDup weighting,
keep-best).

Determinism: all hashing is md5 (identical semantics in Spark and
DuckDB), so every operator here has an exact SQL oracle. MinHash uses
the *lexicographic min of hex digests* per seed — engine-portable, no
hex->int conversion.

Scale notes: shingling explodes ~L rows per doc but is map-side only;
the only shuffles are the per-doc signature groupBy and the band-key
groupBy. Hot shingles (stop-phrases) can skew the inverted-index join
— `ngram_jaccard_pairs` is the exact tier you run on LSH candidates at
scale, not on the full corpus.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.catalog import read_parquet_known
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register

from etl_generator_demo_spark.operators._fallback import (
    check_forced as _check_forced,
)
from etl_generator_demo_spark.operators._fallback import (
    warn_fallback_once as _warn_fallback_once,
)

_log = __import__("logging").getLogger(__name__)

SHINGLE_N = 5
NUM_HASHES = 8
BANDS = 2  # 2 bands x 4 rows


def _shingle_expr(text_col: str, n: int = SHINGLE_N) -> Column:
    """Array of word-n-gram shingles, '_'-joined. Empty when the doc has
    fewer than n tokens (sequence() would run descending otherwise)."""
    toks = f"split({text_col}, ' ')"
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> concat_ws('_', slice({toks}, i, {n}))) "
        f"ELSE array() END"
    )


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", distinct: bool = True
) -> DataFrame:
    """(id, shingle) pairs — the base relation for MinHash, Jaccard,
    and SimHash. ``distinct=True`` is required by Jaccard (set
    cardinalities) but NOT by MinHash: min() is duplicate-invariant, so
    the minhash path passes ``distinct=False`` and skips a full shuffle
    of the exploded shingle relation (the groupBy's map-side partial
    min shuffles only k values per doc).

    Generation runs as an Arrow ``mapInPandas`` stage rather than the
    equivalent ``transform(sequence(...))`` expression: per-shingle
    slice+concat is interpreted (not codegen'd) on the JVM and measured
    ~1.6x slower than the Python loop over Arrow batches. Token
    semantics match ``split(text, ' ')`` exactly — Python
    ``str.split(' ')`` and Java ``Pattern.split(limit=-1)`` both keep
    empty tokens. The closure is self-contained (executor workers
    cannot import this package)."""
    n, idc, txc = SHINGLE_N, id_col, text_col

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, shs = [], []
            for did, text in zip(pdf[idc], pdf[txc]):
                toks = (text or "").split(" ")
                ln = len(toks)
                if ln >= n:
                    ids.extend([did] * (ln - n + 1))
                    shs.extend("_".join(toks[i : i + n]) for i in range(ln - n + 1))
            if ids:
                yield pd.DataFrame({idc: ids, "shingle": shs})

    out = df.select(idc, txc).mapInPandas(gen, f"{idc} long, shingle string")
    return out.distinct() if distinct else out


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = NUM_HASHES
) -> DataFrame:
    """k MinHash values per doc from num_hashes/4 md5 digests: each
    128-bit digest is sliced into four independent 8-hex-char (32-bit)
    chunks — bit-splitting one strong hash is the standard way to get a
    hash family without paying k full hashes per shingle (8× fewer md5
    calls than a per-hash digest, and 8-char instead of 32-char
    signature/band values in the shuffle). 32-bit chunks keep the
    min-collision probability of two L-shingle docs ~2L/2^32 —
    negligible even at 100k shingles/doc, where 16-bit slices would
    false-positive whole bands. P[min-hash match] = Jaccard similarity,
    per the classic estimator."""
    assert num_hashes % 4 == 0, "hashes come in 4-per-digest slices"
    aggs = []
    for d in range(num_hashes // 4):
        digest = F.md5(F.concat(F.lit(f"s{d}|"), F.col("shingle")))
        for s in range(4):
            aggs.append(F.min(F.substring(digest, 8 * s + 1, 8)).alias(f"mh{d * 4 + s}"))
    return shingles.groupBy(id_col).agg(*aggs)


def banded_keys(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = BANDS
) -> DataFrame:
    """(id, band_id, band_key) rows — one per band per doc, map-side
    explode of the signature columns. The joinable LSH band relation:
    candidate pairs self-join it, incremental dedup probes a persisted
    copy of it."""
    num_hashes = len([c for c in signatures.columns if c.startswith("mh")])
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat(
                    *[F.col(f"mh{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(id_col, F.explode(band_structs).alias("bk")).select(
        id_col, "bk.band_id", "bk.band_key"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any full band of signature values are
    candidates. All bands are exploded into (band_id, band_key) rows and
    matched with ONE self-join — linear in corpus size + output pairs,
    never O(n^2), and the signature pipeline is evaluated once per join
    side instead of once per band (~1.6x faster than per-band joins).

    `max_bucket_size` is the stop-band guard for corpus scale: a band
    key shared by b documents emits b*(b-1)/2 pairs, so one boilerplate
    bucket of 100k docs would emit 5e9 pairs. Buckets above the cap are
    dropped (their members are boilerplate-similar, not meaningful
    near-dups — the same reasoning as stopword removal). None = off,
    which keeps exact oracle parity for the fixture-sized corpus."""
    keyed = banded_keys(signatures, id_col=id_col, bands=bands)
    return pairs_from_banded(keyed, id_col=id_col, max_bucket_size=max_bucket_size)


def pairs_from_banded(
    keyed: DataFrame, id_col: str = "doc_id", max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs from an (id, band_id, band_key)
    relation — the join tail of :func:`lsh_candidate_pairs`, split out
    so a PERSISTED band index can feed it directly."""
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_key")
        keyed = (
            keyed.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    a, bb = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(bb, ["band_id", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def doc_lsh_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` MinHash-LSH candidate pairs of a
    ``(id, text)`` relation: shingles (duplicates kept — min() does not
    need the distinct shuffle) → signatures → banded self-join."""
    sh = doc_shingles(docs, id_col=id_col, text_col=text_col, distinct=False)
    return lsh_candidate_pairs(minhash_signatures(sh, id_col=id_col), id_col=id_col)


def corpus_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs for the FULL documents corpus, served from
    the persisted band index (`ensure_full_band_index` — ingest-time
    state, one linear build per fixture) when warm or buildable: the
    query-time plan is one parquet scan + the banded self-join, with
    the shingle→minhash Arrow/groupBy pipeline amortized away (the
    same persisted-index pattern as the embedding near-dup path).
    Falls back to the inline pipeline when the cache root is
    unavailable. Same md5 family either way — hash-exact vs the
    DuckDB oracles."""
    try:
        _check_forced("corpus_candidate_pairs")
        from etl_generator_demo_spark.operators.dedup_incremental import (
            ensure_full_band_index,
        )

        keyed = read_parquet_known(spark, ensure_full_band_index(spark, sf_dir))
        return pairs_from_banded(keyed)
    except Exception as exc:
        _warn_fallback_once("corpus_candidate_pairs", exc)
        return doc_lsh_pairs(t(spark, sf_dir, "documents"))


def corpus_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, band_id, band_key)`` for the FULL documents corpus,
    served from the persisted full band index (`ensure_full_band_index`
    — the same ingest-time artifact `corpus_candidate_pairs` probes)
    when warm or buildable: band consumers that need the keyed relation
    itself (not the self-joined pairs) start from one parquet scan
    instead of re-running the shingle→minhash→band Arrow pipeline per
    query (guide §2.4: remove the recompute, reuse the materialized
    partitioning). Falls back to the inline pipeline when the cache
    root is unavailable. Same md5 family either way — hash-exact vs
    the DuckDB oracles."""
    try:
        _check_forced("corpus_bands")
        from etl_generator_demo_spark.operators.dedup_incremental import (
            ensure_full_band_index,
        )

        return read_parquet_known(spark, ensure_full_band_index(spark, sf_dir))
    except Exception as exc:
        _warn_fallback_once("corpus_bands", exc)
        from etl_generator_demo_spark.operators.dedup_incremental import (
            document_bands,
        )

        return document_bands(t(spark, sf_dir, "documents"))


def corpus_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(doc_id, shingle)`` for the FULL documents corpus,
    served from the persisted shingle store (`ensure_shingle_index` —
    ingest-time state, one linear text pass + distinct per fixture)
    when warm or buildable: every exact-tier shingle consumer then
    starts from a parquet scan instead of re-running the Arrow
    shingling stage per query. Falls back to the inline pipeline when
    the cache root is unavailable. Row-identical either way, so
    downstream results stay hash-exact vs the DuckDB oracles. The
    MinHash path keeps its own ``distinct=False`` pipeline inside the
    band index (min() is duplicate-invariant; see `banded_keys`)."""
    try:
        _check_forced("corpus_shingles")
        from etl_generator_demo_spark.operators.dedup_incremental import (
            ensure_shingle_index,
        )

        return read_parquet_known(spark, ensure_shingle_index(spark, sf_dir))
    except Exception as exc:
        _warn_fallback_once("corpus_shingles", exc)
        return doc_shingles(t(spark, sf_dir, "documents"))


def set_cardinalities(sets: DataFrame) -> DataFrame:
    """``(doc_id, card)`` of a ``(doc_id, elem)`` set relation. Every
    consumer joins it on both pair endpoints; as two plan subtrees it
    would be computed once only when AQE's exchange reuse wins a
    best-effort stage-cache race, so it is materialized once with an
    eager localCheckpoint (n_docs × 16 B) and both aggregate subtrees
    leave the visible plan."""
    return (
        sets.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("card"))
        .localCheckpoint(eager=True)
    )


def pair_intersections(
    sets: DataFrame, elem: str, candidates: DataFrame | None = None
) -> DataFrame:
    """``(doc_a, doc_b, inter)`` for every pair of sets in a
    ``(doc_id, elem)`` relation (each row once) sharing at least one
    element: the inverted-index self-join on ``elem``, ``doc_a <
    doc_b``, counted per pair. Pairs sharing nothing never
    materialize. ``candidates`` — a ``(doc_a, doc_b)`` relation such
    as LSH pairs — semi-joins the pair stream before the count, so
    only those pairs are counted; a caller sizing that join hints the
    relation it passes."""
    a, b = sets.alias("a"), sets.alias("b")
    pairs = (
        a.join(b, elem)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if candidates is not None:
        pairs = pairs.join(candidates, ["doc_a", "doc_b"], "left_semi")
    return pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("inter"))


def overlap_pairs(
    sets: DataFrame, elem: str, candidates: DataFrame | None = None
) -> DataFrame:
    """``(doc_a, doc_b, inter, card_a, card_b)``: the
    :func:`pair_intersections` of ``sets`` with the
    :func:`set_cardinalities` of both endpoints. Callers apply their
    Jaccard, containment or estimate test to the integer columns
    (cross-multiplication, no float threshold)."""
    card = set_cardinalities(sets)
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("card").alias("card_a"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("card").alias("card_b"))
    return (
        pair_intersections(sets, elem, candidates)
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", "inter", "card_a", "card_b")
    )


def ngram_jaccard_pairs(shingles: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact shingle-set Jaccard via the overlap kernel: only pairs
    sharing >=1 shingle are scored. `jaccard` is an int/int IEEE
    division — bit-identical across engines, no rounding needed."""
    return (
        overlap_pairs(shingles, "shingle")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("card_a") + F.col("card_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


SIMHASH_BITS = 16


def simhash_fingerprints(
    shingles: DataFrame, id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash without hex->int: bit b uses an independent md5 family
    ('b{b}|' prefix); a shingle votes +1 when the digest's first hex
    char has its MSB set ('8'-'f'), else -1; the bit is 1 when the vote
    sum is positive. One shuffle (the per-doc groupBy)."""
    vote_aggs = []
    for b in range(bits):
        first = F.substring(F.md5(F.concat(F.lit(f"b{b}|"), F.col("shingle"))), 1, 1)
        vote = F.when(first >= "8", 1).otherwise(-1)
        vote_aggs.append(F.sum(vote).alias(f"v{b}"))
    votes = shingles.groupBy(id_col).agg(*vote_aggs)
    bit_exprs = [F.when(F.col(f"v{b}") > 0, "1").otherwise("0") for b in range(bits)]
    return votes.select(id_col, F.concat(*bit_exprs).alias("simhash"))


def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """X1: keep one row per key (dropDuplicates = hash-groupBy-first;
    scales as a single shuffle on the key)."""
    return df.dropDuplicates(key_cols)


# ===========================================================================
# Driver-checkable queries
# ===========================================================================

# Window-lead formulation: DuckDB's range() table function does not
# accept lateral column parameters, so shingles come from LEAD over
# token position instead of slicing.
_DUCK_SHINGLES = """
    WITH tok AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               tk || '_' || LEAD(tk, 1) OVER w || '_' || LEAD(tk, 2) OVER w
                  || '_' || LEAD(tk, 3) OVER w || '_' || LEAD(tk, 4) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    shingles AS (
        SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL
    )
"""


def _duck_minhash_cols() -> str:
    # mirror of minhash_signatures: 4 slices of 8 hex chars per digest
    return ",\n           ".join(
        f"MIN(SUBSTR(MD5('s{i // 4}|' || shingle), {8 * (i % 4) + 1}, 8)) AS mh{i}"
        for i in range(NUM_HASHES)
    )


def _duck_band_key(b: int, slot: str = "mh", bands: int = BANDS) -> str:
    # band b's key: its rows-per-band signature slots concatenated
    rows = NUM_HASHES // bands
    return " || ".join(f"{slot}{i}" for i in range(b * rows, (b + 1) * rows))


def _duck_bands(src: str, bands: int = BANDS) -> str:
    """SQL mirror of :func:`banded_keys`: one ``(doc_id, band_id,
    band_key)`` row per band per doc of the signature relation
    ``src``."""
    return "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band_id, {_duck_band_key(b, bands=bands)} AS band_key"
        f" FROM {src}"
        for b in range(bands)
    )


def _duck_band_pairs(bands: str) -> str:
    # mirror of pairs_from_banded over a (doc_id, band_id, band_key) relation
    return f"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {bands} a JOIN {bands} b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id"""


#: SQL mirror of :func:`lsh_candidate_pairs` over a ``shingles`` CTE:
#: signatures ``sigs``, their band rows ``bands`` and the distinct
#: candidate pairs ``cand(doc_a, doc_b)``.
_DUCK_LSH = f"""
    sigs AS (
        SELECT doc_id, {_duck_minhash_cols()}
        FROM shingles GROUP BY doc_id
    ),
    bands AS (
        {_duck_bands("sigs")}
    ),
    cand AS (
        {_duck_band_pairs("bands")}
    )"""


def _duck_overlap(
    sets: str = "shingles", elem: str = "shingle", candidates: str | None = None
) -> str:
    """SQL mirror of :func:`overlap_pairs`: CTEs ``card`` and
    ``overlap(doc_a, doc_b, inter, card_a, card_b)`` over the set
    relation ``sets(doc_id, elem)``; ``candidates`` names a
    ``(doc_a, doc_b)`` CTE that restricts the counted pairs."""
    keep = (
        f"\n              AND (a.doc_id, b.doc_id) IN (SELECT (doc_a, doc_b) FROM {candidates})"
        if candidates
        else ""
    )
    return f"""
    card AS (SELECT doc_id, COUNT(*) AS card FROM {sets} GROUP BY doc_id),
    overlap AS (
        SELECT i.doc_a, i.doc_b, i.inter, ca.card AS card_a, cb.card AS card_b
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM {sets} a JOIN {sets} b
              ON a.{elem} = b.{elem} AND a.doc_id < b.doc_id{keep}
            GROUP BY a.doc_id, b.doc_id
        ) i
        JOIN card ca ON ca.doc_id = i.doc_a
        JOIN card cb ON cb.doc_id = i.doc_b
    )"""


@register(
    "x1_dedup_exact",
    oracle="""
    SELECT MD5(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY MD5(text)
    ORDER BY keep_id
    """,
    survey_ids=("X1",),
)
def x1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash; keeps the smallest id as canonical
    (deterministic representative, unlike dropDuplicates' arbitrary row)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_id")
    )


@register(
    "x2_minhash_lsh_pairs",
    oracle=f"""
    {_DUCK_SHINGLES},{_DUCK_LSH}
    SELECT doc_a, doc_b FROM cand
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via MinHash LSH ({NUM_HASHES} hashes, {BANDS}
    bands). For the fixture's planted near-dups (shingle Jaccard ~0.97)
    detection probability is 1-(1-j^4)^2 ~ 0.99. Served from the
    persisted full-corpus band index when warm (see
    ``corpus_candidate_pairs``) — the signature pipeline is ingest
    state, the query is the banded self-join."""
    return corpus_candidate_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


@register(
    "x2_ngram_jaccard_pairs",
    oracle=f"""
    {_DUCK_SHINGLES},{_duck_overlap()}
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (card_a + card_b - inter) AS jaccard
    FROM overlap
    WHERE CAST(inter AS DOUBLE) / (card_a + card_b - inter) >= 0.5
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard >= 0.5 via inverted-index join (the
    verification tier for LSH candidates). Shingle sets come from the
    persisted store (`corpus_shingles`) — the text pass is ingest
    state, the query is the inverted-index join."""
    return ngram_jaccard_pairs(corpus_shingles(spark, sf_dir)).orderBy(
        "doc_a", "doc_b"
    )


def _duck_simhash_sql(bits: int = SIMHASH_BITS) -> str:
    votes = ",\n           ".join(
        f"SUM(CASE WHEN SUBSTR(MD5('b{b}|' || shingle), 1, 1) >= '8' "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    bit_sql = " || ".join(
        f"(CASE WHEN v{b} > 0 THEN '1' ELSE '0' END)" for b in range(bits)
    )
    return f"""
    {_DUCK_SHINGLES},
    votes AS (
        SELECT doc_id, {votes}
        FROM shingles GROUP BY doc_id
    )
    SELECT doc_id, {bit_sql} AS simhash
    FROM votes
    ORDER BY doc_id
    """


@register("x2_simhash_fingerprints", oracle=_duck_simhash_sql(), survey_ids=("X2",))
def x2_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document; equal fingerprints = near-dup
    group. Served from the persisted shingle store."""
    return simhash_fingerprints(corpus_shingles(spark, sf_dir)).orderBy("doc_id")


#: Candidate-pair relations broadcast only below this row count. Pairs
#: are two longs (~16 B/row), so 2M rows is tens of MB in an executor —
#: same order as similarity.BROADCAST_VECTORS_MAX_ROWS. Above it the
#: verify tier falls back to shuffle (sort-merge) joins: candidate
#: mass scales with the corpus's DUPLICATE mass (real web crawls run
#: 30-50% dup rates), so at 100 TB these relations are corpus-scale
#: and a forced broadcast is a driver/executor OOM, not a slow plan
#: (r15 verdict item 1).
BROADCAST_CANDIDATES_MAX_ROWS = 2_000_000


def verified_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """The composed 100 TB near-dup pipeline: LSH candidate pairs →
    exact Jaccard computed ONLY over candidate documents. The
    inverted-index join runs on the shingles of docs that appear in
    some candidate pair (a left-semi prune), and its output is reduced
    to the candidate pairs themselves before scoring, so no
    non-candidate pair is ever materialized.

    The candidate-side join strategy is SIZED, not hard-coded (the
    similarity.py rejoin discipline): the pair relation is already
    materialized by the localCheckpoint, so its EXACT row count is one
    cheap job, and the broadcast hints are only applied under
    ``BROADCAST_CANDIDATES_MAX_ROWS`` — above that every candidate
    join runs as a keyed shuffle join (hint("merge"), so Catalyst's
    static size stats cannot silently re-broadcast), which is the
    dup-heavy 100 TB shape. Pass ``broadcast_candidates`` to force
    either plan."""
    cand = doc_lsh_pairs(docs).localCheckpoint(eager=True)  # consumed
    # twice (doc prune + pair filter): materialize the candidate pairs
    # once instead of re-running the whole shingle->minhash->band
    # pipeline per consumer
    if broadcast_candidates is None:
        # count of an eagerly-checkpointed relation: no recompute
        broadcast_candidates = cand.count() <= BROADCAST_CANDIDATES_MAX_ROWS
    _side = F.broadcast if broadcast_candidates else (lambda df: df.hint("merge"))
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = doc_shingles(docs).join(_side(cand_docs), "doc_id", "left_semi")
    # the cardinality rejoins stream candidate-sized pairs, so they take
    # the candidate sizing too (overlap_pairs leaves them to Catalyst)
    card = set_cardinalities(sh)
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("card").alias("card_a"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("card").alias("card_b"))
    return (
        pair_intersections(sh, "shingle", candidates=_side(cand))
        .join(_side(ca), "doc_a")
        .join(_side(cb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("card_a") + F.col("card_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "x2_neardup_verified",
    oracle=f"""
    {_DUCK_SHINGLES},{_DUCK_LSH},{_duck_overlap(candidates="cand")}
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (card_a + card_b - inter) AS jaccard
    FROM overlap
    WHERE CAST(inter AS DOUBLE) / (card_a + card_b - inter) >= 0.5
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates-then-verify near-dup detection, the composed scale
    pipeline (LSH recall tier + exact-Jaccard precision tier restricted
    to candidates). Distinct from ``x2_ngram_jaccard_pairs``, which
    scores the whole corpus — that global tier survives as the recall
    reference; this one is what actually runs at 100 TB."""
    docs = t(spark, sf_dir, "documents")
    return verified_neardup_pairs(docs).orderBy("doc_a", "doc_b")


@register(
    "x1_dedup_normalized",
    oracle="""
    SELECT MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS norm_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY keep_id
    """,
    survey_ids=("X1",),
)
def x1_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: case-fold, trim, collapse runs of
    whitespace BEFORE hashing — catches the re-encoded/re-wrapped
    copies byte-exact dedup misses, still one scan + one shuffle.
    (Near-dup tiers catch edits; this tier catches formatting.)"""
    docs = t(spark, sf_dir, "documents")
    norm = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    return (
        docs.groupBy(norm.alias("norm_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# dedup keep-policies beyond min-id: soft weighting and keep-best
# ---------------------------------------------------------------------------


@register(
    "x2_softdedup_weights",
    oracle="""
    WITH d AS (
        SELECT doc_id, MD5(text) AS h,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    g AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_copies FROM d GROUP BY h)
    SELECT d.doc_id, g.n_copies,
           CAST(1000000 // g.n_copies AS BIGINT) AS weight_e6,
           d.n_tokens
    FROM d JOIN g USING (h)
    ORDER BY d.doc_id
    """,
    survey_ids=("X1", "X4", "A1", "J1"),
)
def x2_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup — keep every duplicate but DOWNWEIGHT it: each doc's
    sampling weight is 1/n_copies of its exact-content group, so a
    family of k byte-identical copies contributes one document's worth
    of expected tokens instead of k (the reweight-don't-delete policy:
    preserves long-tail coverage the hard-removal tier destroys while
    still flattening the duplicated-content spike). Output: doc →
    multiplicity, e6 weight, token count — the columns a weighted
    sampler joins on.

    Plan: one content-hash groupBy (map-combined) + one co-keyed join
    back on the hash — the `x1_dedup_exact` shuffle plus a join that
    reuses the same key partitioning. Θ(corpus) output by definition
    (it annotates the corpus)."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    g = d.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
    return (
        d.join(g, "h")
        .select(
            "doc_id",
            "n_copies",
            F.expr("CAST(1000000 div n_copies AS LONG)").alias("weight_e6"),
            "n_tokens",
        )
        .orderBy("doc_id")
    )


@register(
    "x1_dedup_keep_best",
    oracle="""
    WITH d AS (
        SELECT doc_id, n_chars,
               MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS h
        FROM documents
    ),
    r AS (
        SELECT h, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY h
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY h) AS n_copies
        FROM d
    )
    SELECT h AS norm_hash, doc_id AS keep_id,
           CAST(n_chars AS BIGINT) AS keep_n_chars,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM r WHERE rn = 1
    ORDER BY keep_id
    """,
    survey_ids=("X1", "W1"),
)
def x1_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a QUALITY keep-policy: within each
    normalized-content group (the `x1_dedup_normalized` key: casefold,
    trim, collapse whitespace) keep the RICHEST raw variant — max
    n_chars, doc_id tiebreak — instead of the arbitrary min-id. The
    policy production dedup actually ships (keep the longest/
    best-formatted copy; the whitespace-mangled mirrors lose), and the
    normalized key is what makes the choice non-degenerate: raw texts
    in one group genuinely differ.

    Plan: one scan; the selection is a hash-PARTITIONED row_number
    (parallel by group — never a global window) over the same single
    shuffle `x1_dedup_normalized` pays."""
    docs = t(spark, sf_dir, "documents")
    norm = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    w = Window.partitionBy("h").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.select("doc_id", "n_chars", norm.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_copies",
            F.count(F.lit(1)).over(Window.partitionBy("h")).cast("long"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("h").alias("norm_hash"),
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").cast("long").alias("keep_n_chars"),
            "n_copies",
        )
        .orderBy("keep_id")
    )


@register(
    "x2_minhash_lsh_pairs_guarded",
    oracle=f"""
    {_DUCK_SHINGLES},{_DUCK_LSH},
    sized AS (
        SELECT doc_id, band_id, band_key,
               COUNT(*) OVER (PARTITION BY band_id, band_key) AS bucket_n
        FROM bands
    ),
    guarded AS (SELECT * FROM sized WHERE bucket_n <= 2)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM guarded a JOIN guarded b
      ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_minhash_lsh_pairs_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop-band guard as a registered, oracle-checked path:
    `max_bucket_size=2` drops any band bucket shared by 3+ documents
    before pairing (at corpus scale those are boilerplate families
    that would emit O(bucket^2) pairs; cap=2 on the fixture actually
    fires on the planted 3-chains, so the guarded result differs from
    the unguarded one and the pruning itself is hash-verified)."""
    docs = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(doc_shingles(docs, distinct=False))
    return lsh_candidate_pairs(sigs, max_bucket_size=2).orderBy("doc_a", "doc_b")


@register(
    "x2_shingle_dup_coverage",
    oracle=f"""
    {_DUCK_SHINGLES},
    stats AS (
        SELECT shingle, COUNT(*) AS docs_with
        FROM shingles GROUP BY shingle
    ),
    per_doc AS (
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN st.docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared
        FROM shingles s JOIN stats st USING (shingle)
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_shared,
           FLOOR(n_shared * 1000000.0 / n_shingles) / 1000000 AS dup_frac
    FROM per_doc
    ORDER BY doc_id
    """,
    survey_ids=("X2", "X4"),
)
def x2_shingle_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication coverage: for every document, the
    fraction of its distinct 5-token shingles that also occur in at
    least one OTHER document — the signal substring/line-level dedup
    (boilerplate stripping, memorization risk) thresholds on, one
    level finer than whole-doc near-dup. Plan: the existing shingle
    relation feeds one map-combined count per shingle, joined back
    co-partitioned on the shingle key, then one per-doc aggregate —
    linear in total shingles, no pairwise anything. At 100 TB the
    shingle-count table is the big intermediate; it shuffles once and
    is never collected."""
    return shingle_dup_coverage(
        t(spark, sf_dir, "documents"), shingles=corpus_shingles(spark, sf_dir)
    ).orderBy("doc_id")


def shingle_dup_coverage(docs: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """Library form over any (doc_id, text) relation: per-doc distinct
    shingle count, shared-shingle count, and dup_frac (floor-scaled).
    ``shingles`` lets a caller supply a precomputed/persisted distinct
    shingle relation for the same docs (`corpus_shingles`)."""
    sh = shingles if shingles is not None else doc_shingles(docs)  # distinct
    stats = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("docs_with"))
    per_doc = (
        sh.join(stats, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("docs_with") > 1).cast("long")).alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        (F.floor(F.col("n_shared") * 1000000.0 / F.col("n_shingles")) / 1_000_000).alias(
            "dup_frac"
        ),
    )


# Production SimHash-LSH setting (Manku et al., WWW'07): 64-bit
# fingerprints, 4 bands of 16 bits, hamming <= 3. Pigeonhole: any pair
# within distance 3 agrees on at least one whole 16-bit band, and each
# band key draws from 2^16 buckets — bucket size ~ n/65536, so the
# band self-join stays near-linear. (The 16-bit demo fingerprint of
# ``x2_simhash_fingerprints`` would give only 2^4 buckets per band —
# O(n^2/16) pair generation — which is why the pairs operator uses its
# own width.)
SIMHASH_PAIR_BITS, SIMHASH_BANDS, SIMHASH_MAX_HAMMING = 64, 4, 3


def _duck_simhash_pairs_sql() -> str:
    bits, band_w = SIMHASH_PAIR_BITS, SIMHASH_PAIR_BITS // SIMHASH_BANDS
    bands = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {k} AS band_id, SUBSTR(simhash, {1 + k * band_w}, {band_w}) AS band_key FROM fp"
        for k in range(SIMHASH_BANDS)
    )
    hamming = " + ".join(
        f"(CASE WHEN SUBSTR(fa.simhash, {i}, 1) <> SUBSTR(fb.simhash, {i}, 1) THEN 1 ELSE 0 END)"
        for i in range(1, bits + 1)
    )
    # reuse the parameterized fingerprint SQL as a subquery (strip its
    # trailing ORDER BY — CTE bodies don't need it)
    fp_sql = _duck_simhash_sql(bits).rsplit("ORDER BY doc_id", 1)[0]
    return f"""
    WITH fp AS (
        {fp_sql}
    ),
    bands AS (
        {bands}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, CAST({hamming} AS BIGINT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.doc_a
    JOIN fp fb ON fb.doc_id = c.doc_b
    WHERE {hamming} <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """


@register(
    "x2_simhash_neardup_pairs",
    oracle=_duck_simhash_pairs_sql(),
    survey_ids=("X2",),
)
def x2_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at the production LSH setting (Manku et
    al.): 64-bit fingerprints, 4 bands of 16 bits, hamming <= 3 — the
    banded completion of ``x2_simhash_fingerprints`` (equal-fingerprint
    grouping only catches distance 0). Pigeonhole guarantees any pair
    within distance 3 agrees on one whole band, so candidates come
    from ONE equi-join on (band_id, band_key) over 2^16-ary buckets —
    never an all-pairs XOR, bucket size ~ n/65536 — and the exact
    64-position hamming check runs only inside buckets. The third,
    mutually independent near-dup family next to MinHash-Jaccard and
    embedding-LSH."""
    bits, band_w = SIMHASH_PAIR_BITS, SIMHASH_PAIR_BITS // SIMHASH_BANDS
    fp = simhash_fingerprints(
        corpus_shingles(spark, sf_dir), bits=bits
    ).localCheckpoint(eager=True)
    bands = None
    for k in range(SIMHASH_BANDS):
        b = fp.select(
            "doc_id",
            F.lit(k).alias("band_id"),
            F.substring("simhash", 1 + k * band_w, band_w).alias("band_key"),
        )
        bands = b if bands is None else bands.unionByName(b)
    cand = pairs_from_banded(bands)
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    hamming = sum(
        F.when(F.substring("sh_a", i, 1) != F.substring("sh_b", i, 1), 1).otherwise(0)
        for i in range(1, bits + 1)
    )
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )




# ---------------------------------------------------------------------------
# Estimator checks over scored candidate pairs
# ---------------------------------------------------------------------------


def scored_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's LSH candidate pairs with both endpoints' signature
    slots (``a0``… and ``b0``…) and the exact shingle Jaccard
    floor-scaled to micro-units, ``true_j_e6`` (0 for a pair that
    collides on a band without sharing a shingle) — the relation the
    MinHash estimator checks read.

    Scale: signatures join the narrow candidate pair relation (2 ids +
    k 8-char slots); the exact tier is candidate-restricted (shingles
    semi-pruned to candidate docs before the overlap kernel), because
    only candidate pairs reach the output."""
    sh = corpus_shingles(spark, sf_dir)
    sigs = minhash_signatures(sh)
    pairs = lsh_candidate_pairs(sigs).localCheckpoint(eager=True)
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    ov = overlap_pairs(sh.join(cand_docs, "doc_id", "left_semi"), "shingle")
    slots = range(NUM_HASHES)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in slots]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in slots]
    )
    true_j = F.floor(
        F.col("inter") * 1000000.0 / (F.col("card_a") + F.col("card_b") - F.col("inter"))
    ).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(ov, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            *[f"a{i}" for i in slots],
            *[f"b{i}" for i in slots],
            F.coalesce(true_j, F.lit(0)).alias("true_j_e6"),
        )
    )


def _slot_matches(k: int) -> Column:
    # signature slots 0..k-1 on which the two endpoints agree
    return sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k))


#: SQL mirror of :func:`scored_lsh_pairs` (without the candidate
#: restriction: the left join makes the rows identical).
_DUCK_SCORED = f"""
    {_DUCK_SHINGLES},{_DUCK_LSH},{_duck_overlap()},
    scored AS (
        SELECT c.doc_a, c.doc_b,
               {", ".join(f"sa.mh{i} AS a{i}" for i in range(NUM_HASHES))},
               {", ".join(f"sb.mh{i} AS b{i}" for i in range(NUM_HASHES))},
               COALESCE(CAST(FLOOR(o.inter * 1000000.0
                   / (o.card_a + o.card_b - o.inter)) AS BIGINT), 0) AS true_j_e6
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b
        LEFT JOIN overlap o ON o.doc_a = c.doc_a AND o.doc_b = c.doc_b
    )"""


def _duck_slot_matches(k: int) -> str:
    return " + ".join(f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(k))


@register(
    "x2_lsh_precision_report",
    oracle=f"""
    {_DUCK_SCORED}
    SELECT bands_matched,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN true_j_e6 >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dups,
           CAST(FLOOR(CAST(SUM(true_j_e6) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_jaccard_e6
    FROM (
        SELECT CAST({" + ".join(
            f"(CASE WHEN {_duck_band_key(b, 'a')} = {_duck_band_key(b, 'b')} THEN 1 ELSE 0 END)"
            for b in range(BANDS)
        )} AS BIGINT) AS bands_matched, true_j_e6
        FROM scored
    ) GROUP BY bands_matched ORDER BY bands_matched
    """,
    survey_ids=("X2",),
)
def x2_lsh_precision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning report: candidate pairs bucketed by how many bands
    voted for them, with exact-Jaccard verification per bucket —
    candidate count, how many are true near-dups (J ≥ 0.5), and the
    mean Jaccard. This is the measurement you read before moving the
    (hashes, bands) operating point on the S-curve: 2-band votes
    should be near-pure, 1-band votes show the false-positive tail.

    A band votes when its concatenated slots agree on both endpoints
    (the `banded_keys` key). Per-pair Jaccard floor-scales to BIGINT
    micro-units BEFORE the bucket mean (SUM(int)/count —
    order-independent)."""
    rows = NUM_HASHES // BANDS
    votes = sum(
        F.when(
            F.concat(*[F.col(f"a{i}") for i in range(b * rows, (b + 1) * rows)])
            == F.concat(*[F.col(f"b{i}") for i in range(b * rows, (b + 1) * rows)]),
            1,
        ).otherwise(0)
        for b in range(BANDS)
    )
    return (
        scored_lsh_pairs(spark, sf_dir)
        .select(votes.cast("long").alias("bands_matched"), "true_j_e6")
        .groupBy("bands_matched")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("true_j_e6") >= 500000, 1).otherwise(0))
            .cast("long")
            .alias("n_true_dups"),
            F.floor(F.sum("true_j_e6").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_jaccard_e6"),
        )
        .orderBy("bands_matched")
    )


@register(
    "x2_minhash_estimate_error",
    oracle=f"""
    {_DUCK_SCORED}
    SELECT doc_a, doc_b, n_hash_matches,
           CAST(FLOOR(n_hash_matches * 1000000 / {NUM_HASHES}) AS BIGINT) AS est_j_e6,
           true_j_e6,
           ABS(CAST(FLOOR(n_hash_matches * 1000000 / {NUM_HASHES}) AS BIGINT) - true_j_e6)
               AS abs_err_e6
    FROM (
        SELECT doc_a, doc_b, true_j_e6,
               CAST({_duck_slot_matches(NUM_HASHES)} AS BIGINT) AS n_hash_matches
        FROM scored
    )
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator validation per candidate pair: the classic
    P[minhash match] = Jaccard estimator (matching signature slots /
    k) against the exact shingle-set Jaccard, with the absolute error
    — the empirical check behind choosing k={NUM_HASHES}. Every column
    is integer arithmetic (the estimate is a rational with fixed
    denominator, the truth floor-scales before differencing), so the
    error surface itself hashes exactly."""
    est = F.floor(F.col("n_hash_matches") * 1000000 / NUM_HASHES).cast("long")
    return (
        scored_lsh_pairs(spark, sf_dir)
        .withColumn("n_hash_matches", _slot_matches(NUM_HASHES).cast("long"))
        .select(
            "doc_a",
            "doc_b",
            "n_hash_matches",
            est.alias("est_j_e6"),
            "true_j_e6",
            F.abs(est - F.col("true_j_e6")).alias("abs_err_e6"),
        )
        .orderBy("doc_a", "doc_b")
    )


#: Signature sizes swept: estimates use the FIRST k slots of the one
#: 8-slot signature (prefixes — never one signature pass per size), so
#: the sweep measures the estimator, not fresh hashes.
MINHASH_K_SWEEP = (2, 4, 8)


def _minhash_k_sweep_oracle() -> str:
    ks = ", ".join(f"({k})" for k in MINHASH_K_SWEEP)
    mk = " ".join(f"WHEN {k} THEN m{k}" for k in MINHASH_K_SWEEP)
    return f"""
    {_DUCK_SCORED},
    matched AS (
        SELECT {", ".join(f"CAST({_duck_slot_matches(k)} AS BIGINT) AS m{k}" for k in MINHASH_K_SWEEP)},
               true_j_e6
        FROM scored
    ),
    errs AS (
        SELECT t.k,
               ABS(CAST(FLOOR((CASE t.k {mk} END) * 1000000.0 / t.k)
                        AS BIGINT) - true_j_e6) AS err
        FROM matched CROSS JOIN (VALUES {ks}) AS t(k)
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(err) // COUNT(*) AS BIGINT) AS mean_abs_err_e6,
           CAST(MAX(err) AS BIGINT) AS max_abs_err_e6,
           CAST(SUM(err * err) // COUNT(*) AS BIGINT) AS mse_e12
    FROM errs GROUP BY k ORDER BY k
    """


@register(
    "x2_minhash_k_sweep",
    oracle=_minhash_k_sweep_oracle(),
    survey_ids=("X2", "A1", "F6"),
)
def x2_minhash_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash estimator's tuning curve: Jaccard-estimate error vs
    signature size k ∈ {2,4,8} over the real LSH candidate pairs,
    against the exact shingle Jaccard — the empirical 1/√k error
    decay behind choosing NUM_HASHES (the sweep sibling of
    `x2_minhash_estimate_error`, which validates the chosen k
    per-pair). Each k's estimate uses the FIRST k slots of the one
    8-slot signature, so the sweep costs one scored-pair build read
    three times. Integer throughout: estimates are fixed-denominator
    rationals, MSE stays in int64 for any pair count < ~9·10⁶
    (err² ≤ 10¹²; beyond that the mean would shard-partial first)."""
    scored = scored_lsh_pairs(spark, sf_dir).select(
        *[_slot_matches(k).cast("long").alias(f"m{k}") for k in MINHASH_K_SWEEP],
        "true_j_e6",
    )
    stack = ", ".join(f"{k}L, m{k}" for k in MINHASH_K_SWEEP)
    errs = scored.select(
        F.expr(f"stack({len(MINHASH_K_SWEEP)}, {stack}) AS (k, mk)"),
        "true_j_e6",
    ).select(
        "k",
        F.abs(
            F.floor(F.col("mk") * 1000000.0 / F.col("k")).cast("long")
            - F.col("true_j_e6")
        ).alias("err"),
    )
    return (
        errs.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(err) div count(1)").cast("long").alias("mean_abs_err_e6"),
            F.max("err").cast("long").alias("max_abs_err_e6"),
            F.expr("sum(err * err) div count(1)").cast("long").alias("mse_e12"),
        )
        .orderBy("k")
    )


@register(
    "x2_source_overlap_matrix",
    oracle=f"""
    {_DUCK_SHINGLES},{_DUCK_LSH}
    SELECT LEAST(da.source, db.source)    AS source_x,
           GREATEST(da.source, db.source) AS source_y,
           CAST(COUNT(*) AS BIGINT)       AS n_pairs
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    GROUP BY 1, 2
    ORDER BY n_pairs DESC, source_x, source_y
    """,
    survey_ids=("X2", "A1"),
)
def x2_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash-LSH near-dup pairs
    rolled up by unordered source pair — the "which crawls copy from
    each other" report that decides source-level dedup priorities and
    licensing reviews. Source labels join back onto the NARROW pair
    relation (two ids), normalized with least/greatest so (A,B) and
    (B,A) collapse; one count groupBy on a pairs-sized relation."""
    docs = t(spark, sf_dir, "documents")
    pairs = doc_lsh_pairs(docs)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("source_a", "source_b").alias("source_x"),
            F.greatest("source_a", "source_b").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "source_x", "source_y")
    )


QA_PER_BAND = 2


@register(
    "x2_dedup_qa_sample",
    oracle=f"""
    {_DUCK_SHINGLES},{_duck_overlap()},
    scored AS (
        SELECT doc_a, doc_b,
               CAST(inter * 10 // (card_a + card_b - inter) AS BIGINT) AS jac_band,
               CAST(inter * 1000000 // (card_a + card_b - inter) AS BIGINT) AS jac_e6
        FROM overlap
        WHERE 2 * inter >= card_a + card_b - inter  -- jaccard >= 0.5
    ),
    ranked AS (
        SELECT doc_a, doc_b, jac_band, jac_e6,
               ROW_NUMBER() OVER (
                   PARTITION BY jac_band
                   ORDER BY MD5('qa|' || CAST(doc_a AS VARCHAR) || '|'
                                || CAST(doc_b AS VARCHAR)), doc_a, doc_b
               ) AS rk
        FROM scored
    )
    SELECT jac_band, doc_a, doc_b, jac_e6
    FROM ranked WHERE rk <= {QA_PER_BAND}
    ORDER BY jac_band, doc_a, doc_b
    """,
    survey_ids=("X2", "X4"),
)
def x2_dedup_qa_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-review QA queue for the dedup pipeline: a deterministic
    stratified sample of near-dup pairs — {QA_PER_BAND} per Jaccard
    decile band AT OR ABOVE the 0.5 pipeline threshold (bands 5-9 +
    exact dups: at most 12 pairs; sub-threshold pairs are rejected
    before scoring, so they never reach the queue by construction —
    auditing those is the recall reference's job,
    `x2_ngram_jaccard_pairs`). md5-rank selection keeps the queue
    reproducible and position-independent. Curation teams audit the
    MARGIN (the 0.5-0.6 band: are these really dups?) without
    re-reviewing the obvious 0.9s. Integer band/score arithmetic end
    to end."""
    sh = corpus_shingles(spark, sf_dir).localCheckpoint(eager=True)
    un = F.col("card_a") + F.col("card_b") - F.col("inter")
    scored = (
        overlap_pairs(sh, "shingle")
        .filter(2 * F.col("inter") >= un)
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(inter * 10 DIV (card_a + card_b - inter) AS BIGINT)").alias(
                "jac_band"
            ),
            F.expr("CAST(inter * 1000000 DIV (card_a + card_b - inter) AS BIGINT)").alias(
                "jac_e6"
            ),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("jac_band").orderBy(
            F.md5(
                F.concat(
                    F.lit("qa|"),
                    F.col("doc_a").cast("string"),
                    F.lit("|"),
                    F.col("doc_b").cast("string"),
                )
            ),
            "doc_a",
            "doc_b",
        )
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= QA_PER_BAND)
        .select("jac_band", "doc_a", "doc_b", "jac_e6")
        .orderBy("jac_band", "doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Tuning curves: LSH band factorizations, Jaccard keep thresholds
# ---------------------------------------------------------------------------

#: Every factorization of the 8-hash signature: (bands, rows/band).
LSH_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))


def _tuning_oracle() -> str:
    per_cfg = [
        f"""
    SELECT CAST({bands} AS BIGINT) AS bands,
           CAST({rows} AS BIGINT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
           CAST(COUNT(DISTINCT doc_a) + COUNT(DISTINCT doc_b) AS BIGINT)
               AS n_endpoint_slots
    FROM ({_duck_band_pairs(f"({_duck_bands('sigs', bands)})")})"""
        for bands, rows in LSH_CONFIGS
    ]
    return f"""
    {_DUCK_SHINGLES},
    sigs AS MATERIALIZED (
        SELECT doc_id, {_duck_minhash_cols()}
        FROM shingles GROUP BY doc_id
    )
    SELECT * FROM ({" UNION ALL ".join(per_cfg)})
    ORDER BY bands
    """


@register(
    "x2_lsh_band_tuning_curve",
    oracle=_tuning_oracle(),
    survey_ids=("X2", "J3", "A3", "U2"),
)
def x2_lsh_band_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair counts for every (bands, rows-per-band)
    factorization of the 8-value MinHash signature — the empirical LSH
    tuning curve. One row per config: distinct candidate pairs and
    distinct endpoint slots. Read before committing a corpus dedup
    pass: (8,1) is the high-recall/high-cost end (any single matching
    minhash pairs two docs), (1,8) the high-precision end.

    Scale: signatures are computed ONCE (map-combined min per doc — 8
    values per doc in the shuffle, never shingles) and
    localCheckpointed; each config is then a band-key self-join on the
    signature relation. The single-row-band configs are where hot
    buckets appear at 100 TB — the guarded production path
    (``x2_minhash_lsh_pairs_guarded``) caps bucket width; this curve
    is the |configs|-bounded diagnostic that justifies the cap."""
    docs = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(doc_shingles(docs, distinct=False)).localCheckpoint(
        eager=True
    )
    out = None
    for bands, rows in LSH_CONFIGS:
        pairs = pairs_from_banded(banded_keys(sigs, bands=bands))
        counts = pairs.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
            (F.count_distinct("doc_a") + F.count_distinct("doc_b"))
            .cast("long")
            .alias("n_endpoint_slots"),
        ).select(
            F.lit(bands).cast("long").alias("bands"),
            F.lit(rows).cast("long").alias("rows_per_band"),
            "n_candidate_pairs",
            "n_endpoint_slots",
        )
        out = counts if out is None else out.unionByName(counts)
    return out.orderBy("bands")


#: Thresholds swept, as exact (num, den) ratios so the comparison is an
#: integer cross-multiplication in both engines.
JACCARD_SWEEP = ((30, 100), (50, 100), (70, 100), (90, 100))


# Fixed expression lists for the sweep: every column derives from
# JACCARD_SWEEP constants and fixed names, so the trees build once per
# process instead of per DataFrame construction.
@lru_cache(maxsize=None)
def _sweep_flag_cols():
    return tuple(
        (
            den * F.col("inter")
            >= num * (F.col("card_a") + F.col("card_b") - F.col("inter"))
        ).alias(f"f{num}")
        for num, den in JACCARD_SWEEP
    )


@lru_cache(maxsize=None)
def _sweep_pair_count_cols():
    return tuple(
        F.coalesce(F.sum(F.col(f"f{num}").cast("long")), F.lit(0))
        .cast("long")
        .alias(f"np{num}")
        for num, _ in JACCARD_SWEEP
    )


@lru_cache(maxsize=None)
def _sweep_doc_count_cols():
    return tuple(
        F.coalesce(F.sum(F.col(f"f{num}").cast("long")), F.lit(0))
        .cast("long")
        .alias(f"nd{num}")
        for num, _ in JACCARD_SWEEP
    )


@lru_cache(maxsize=None)
def _sweep_reshape_col():
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(num).cast("long").alias("tau_e2"),
                    F.col(f"np{num}").alias("n_pairs"),
                    F.col(f"nd{num}").alias("n_docs_in_pairs"),
                )
                for num, _ in JACCARD_SWEEP
            ]
        )
    )


def _jaccard_sweep_oracle() -> str:
    rows = []
    for num, den in JACCARD_SWEEP:
        keep = f"{den} * inter >= {num} * (card_a + card_b - inter)"
        rows.append(f"""
    SELECT CAST({num} AS BIGINT) AS tau_e2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM overlap WHERE {keep})
               AS n_pairs,
           (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM (
                SELECT doc_a AS d FROM overlap WHERE {keep}
                UNION
                SELECT doc_b FROM overlap WHERE {keep}
            )) AS n_docs_in_pairs""")
    return f"""
    {_DUCK_SHINGLES},{_duck_overlap()}
    SELECT * FROM ({" UNION ALL ".join(rows)})
    ORDER BY tau_e2
    """


@register(
    "x2_jaccard_threshold_sweep",
    oracle=_jaccard_sweep_oracle(),
    survey_ids=("X2", "J3", "A1", "U2"),
)
def x2_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair and affected-doc counts at Jaccard thresholds
    0.3/0.5/0.7/0.9 — the verification-threshold tuning curve beside
    the LSH band curve (`x2_lsh_band_tuning_curve` sizes the CANDIDATE
    stage; this sizes the KEEP decision: how many docs a 0.7 cut
    removes vs a 0.9 cut, before committing a corpus pass). The
    committed production setting is `x2_ngram_jaccard_pairs`' 0.5.

    Exactness: every threshold test is an integer cross-multiplication
    ``den·inter ≥ num·(|a|+|b|−inter)`` — no float division anywhere.
    Scale: the overlap relation is computed once and localCheckpointed;
    the four thresholds are boolean flag columns of one projection, so
    the sweep is two aggregates over it — a conditional-sum pass for
    pair counts and an exploded-endpoint groupBy for docs-in-pairs
    (max(flag) per doc, then conditional sum) — and the four output
    rows are an inline reshape of the joined 1-row results."""
    pairs = overlap_pairs(corpus_shingles(spark, sf_dir), "shingle").localCheckpoint(
        eager=True
    )
    nums = [num for num, _ in JACCARD_SWEEP]
    flagged = pairs.select("doc_a", "doc_b", *_sweep_flag_cols())
    pair_counts = flagged.agg(*_sweep_pair_count_cols())
    doc_counts = (
        flagged.select(
            F.explode(F.array("doc_a", "doc_b")).alias("d"),
            *[F.col(f"f{num}") for num in nums],
        )
        .groupBy("d")
        .agg(*[F.max(f"f{num}").alias(f"f{num}") for num in nums])
        .agg(*_sweep_doc_count_cols())
    )
    return (
        pair_counts.crossJoin(doc_counts)
        .select(_sweep_reshape_col().alias("r"))
        .select("r.tau_e2", "r.n_pairs", "r.n_docs_in_pairs")
        .orderBy("tau_e2")
    )
