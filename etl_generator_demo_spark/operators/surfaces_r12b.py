"""Round-12 batch 6: X5 multimodal depth — perceptual-hash Hamming
near-dup over media payload fingerprints, and scene-cut detection over
per-clip frame embeddings.

Reference parity: the reference (HYUNJOON94/etl-generator-demo)
delegates all execution to PostgreSQL/MySQL behind an LLM
(db_connector.py:207-257) and has no multimodal operators; X5 is part
of the LLM-training-pipeline surface the brief requires as first-class
(SURVEY.md §2.12).

Both queries follow the X5 house rules (operators/multimodal.py):
payload bytes feed ONE fingerprint/feature column and are never
shuffled; every join is banded/keyed, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .multimodal import as_media_table, x5_crossmodal_clip_gate
from .relational import t
from .similarity import _as_double, _dot, cosine

#: 64-bit pHash split into 4 bands of 16 bits (4 hex chars) — a
#: re-encode that moves <= PHASH_HAM_TAU bits leaves >= 1 band intact
#: whenever the flipped bits hit <= 3 bands, so banding recalls small
#: perturbations while random 64-bit pairs collide on a 16-bit band
#: with p = 4 * 2^-16.
PHASH_BANDS = 4
#: Exact-verify acceptance: Hamming distance <= 8 of 64 bits (random
#: pairs concentrate at 32).
PHASH_HAM_TAU = 8

_HEX = "0123456789abcdef"


def phash_relation(docs: DataFrame) -> DataFrame:
    """(media_id, phash) for the corpus PLUS a simulated re-encode
    batch: every 5th item re-keyed (+1_000_000) with its 64-bit
    fingerprint perturbed by exactly one bit (the low bit of nibble
    ``media_id % 16`` xor-flipped) — a re-encode/resize changes a few
    DCT coefficients, not the whole hash.

    The fingerprint itself is the md5 of the BINARY payload column
    (the deterministic stand-in this container allows; a real
    deployment swaps in a DCT pHash over decoded pixels via the
    ``multimodal.decode_features`` Pandas-UDF path and keeps every
    plan below unchanged). Spark md5(payload) and DuckDB MD5(text)
    hash the same utf-8 bytes — the `x5_payload_dedup` parity."""
    media = as_media_table(docs)
    orig = media.select(
        "media_id", F.substring(F.md5("payload"), 1, 16).alias("phash")
    )
    re_enc = (
        orig.filter(F.col("media_id") % 5 == 0)
        .withColumn("pos", (F.col("media_id") % 16 + 1).cast("int"))
        .withColumn("media_id", F.col("media_id") + 1_000_000)
        .withColumn(
            "phash",
            F.expr(
                f"concat(substring(phash, 1, pos - 1),"
                f" substring('{_HEX}',"
                # parens around the xor: Spark SQL binds ^ LOOSER than +,
                # so `v ^ 1 + 1` would parse as v ^ 2 (a 2-bit flip).
                f"   ((instr('{_HEX}', substring(phash, pos, 1)) - 1) ^ 1) + 1, 1),"
                f" substring(phash, pos + 1, 16 - pos))"
            ),
        )
        .select("media_id", "phash")
    )
    return orig.unionByName(re_enc)


@register(
    "x5_phash_hamming_neardup",
    oracle=f"""
    WITH orig AS (
        SELECT doc_id AS media_id, SUBSTR(MD5(text), 1, 16) AS phash
        FROM documents
    ),
    re AS (
        SELECT media_id + 1000000 AS media_id,
               SUBSTR(phash, 1, pos - 1)
               || SUBSTR('{_HEX}',
                         xor(instr('{_HEX}', SUBSTR(phash, pos, 1)) - 1, 1) + 1,
                         1)
               || SUBSTR(phash, pos + 1, 16 - pos) AS phash
        FROM (
            SELECT media_id, phash,
                   CAST(media_id % 16 + 1 AS INT) AS pos
            FROM orig WHERE media_id % 5 = 0
        )
    ),
    m AS (SELECT * FROM orig UNION ALL SELECT * FROM re),
    bands AS (
        SELECT media_id, g.b AS band_id,
               SUBSTR(phash, g.b * 4 + 1, 4) AS band_key
        FROM m CROSS JOIN (SELECT UNNEST(RANGE(0, {PHASH_BANDS})) AS b) g
    ),
    cand AS (
        SELECT DISTINCT a.media_id AS media_a, c.media_id AS media_b
        FROM bands a
        JOIN bands c
          ON a.band_id = c.band_id AND a.band_key = c.band_key
         AND a.media_id < c.media_id
    ),
    ham AS (
        SELECT cand.media_a, cand.media_b,
               CAST(SUM(bit_count(xor(
                   instr('{_HEX}', SUBSTR(ma.phash, p.p, 1)) - 1,
                   instr('{_HEX}', SUBSTR(mb.phash, p.p, 1)) - 1
               ))) AS BIGINT) AS hamming
        FROM cand
        JOIN m ma ON ma.media_id = cand.media_a
        JOIN m mb ON mb.media_id = cand.media_b
        CROSS JOIN (SELECT UNNEST(RANGE(1, 17)) AS p) p
        GROUP BY cand.media_a, cand.media_b
    )
    SELECT media_a, media_b, hamming
    FROM ham WHERE hamming <= {PHASH_HAM_TAU}
    ORDER BY media_a, media_b
    """,
    survey_ids=("X5", "X2", "J1", "A1"),
)
def x5_phash_hamming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection for media payloads — the
    image analogue of SimHash text dedup: byte-identical blobs are
    caught by `x5_payload_dedup`, but a re-encode/resize/watermark
    changes every byte while moving only a few bits of the perceptual
    fingerprint, so the dedup that actually deflates a crawled image
    corpus is Hamming-radius search over 64-bit pHashes.

    Pipeline (each stage linear): fingerprint scan -> 4x16-bit band
    explode -> candidate pairs from ONE self-join on (band_id,
    band_key) -> exact Hamming distance over the 16 nibbles (explode +
    xor + bit_count, all JVM-side) -> accept at <= PHASH_HAM_TAU bits.
    Random pairs share a band with p = 4/65536 and verify at ~32 bits,
    so output = the planted one-bit re-encodes. At 100 TB the shuffle
    carries (media_id, 4-char band_key) rows — never payloads — and
    the verify join touches only candidates, the `x2_neardup_verified`
    shape on the media fingerprint domain."""
    ph = phash_relation(t(spark, sf_dir, "documents"))
    bands = ph.select(
        "media_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band_id"),
                        F.substring("phash", b * 4 + 1, 4).alias("band_key"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("media_id", "bk.band_id", "bk.band_key")
    cand = (
        bands.alias("a")
        .join(
            bands.select(
                F.col("media_id").alias("media_b"), "band_id", "band_key"
            ).alias("c"),
            ["band_id", "band_key"],
        )
        .filter(F.col("a.media_id") < F.col("media_b"))
        .select(F.col("a.media_id").alias("media_a"), "media_b")
        .distinct()
    )
    nib = f"instr('{_HEX}', substring(%s, p, 1)) - 1"
    ham = (
        cand.join(ph.select(F.col("media_id").alias("media_a"), F.col("phash").alias("ph_a")), "media_a")
        .join(ph.select(F.col("media_id").alias("media_b"), F.col("phash").alias("ph_b")), "media_b")
        .select("media_a", "media_b", F.explode(F.sequence(F.lit(1), F.lit(16))).alias("p"), "ph_a", "ph_b")
        .groupBy("media_a", "media_b")
        .agg(
            F.sum(
                F.bit_count(F.expr(f"({nib % 'ph_a'}) ^ ({nib % 'ph_b'})"))
            )
            .cast("long")
            .alias("hamming")
        )
    )
    return (
        ham.filter(F.col("hamming") <= PHASH_HAM_TAU)
        .select("media_a", "media_b", "hamming")
        .orderBy("media_a", "media_b")
    )


# ---------------------------------------------------------------------------
# scene-cut detection over per-clip frame embeddings
# ---------------------------------------------------------------------------

#: Frames per clip in the fixture adaptation (vec_id div 16 = clip).
CLIP_FRAMES = 16
#: A transition is a CUT when adjacent-frame cosine drops below this
#: (e6 fixed point). The fixture's vectors are uniform random, so
#: most transitions are near-orthogonal; real frame features sit near
#: 1.0 within a shot — the threshold's sign, not its exact value, is
#: the operator.
CUT_TAU_E6 = 250_000


@register(
    "x5_scene_cut_detection",
    oracle=f"""
    WITH f AS (
        SELECT vec_id // {CLIP_FRAMES} AS clip_id,
               vec_id % {CLIP_FRAMES} AS frame_idx,
               embedding::DOUBLE[] AS v
        FROM embeddings
    ),
    tr AS (
        SELECT a.clip_id,
               CAST(FLOOR(LIST_DOT_PRODUCT(a.v, b.v)
                    / (SQRT(LIST_DOT_PRODUCT(a.v, a.v))
                       * SQRT(LIST_DOT_PRODUCT(b.v, b.v))) * 1000000)
                    AS BIGINT) AS cos_e6
        FROM f a
        JOIN f b ON b.clip_id = a.clip_id AND b.frame_idx = a.frame_idx + 1
    )
    SELECT clip_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(CASE WHEN cos_e6 < {CUT_TAU_E6} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cuts,
           CAST(SUM(CASE WHEN cos_e6 < {CUT_TAU_E6} THEN 1 ELSE 0 END) + 1
                AS BIGINT) AS n_segments,
           CAST(MIN(cos_e6) AS BIGINT) AS min_cos_e6,
           CAST(SUM(cos_e6) AS BIGINT) AS sum_cos_e6
    FROM tr GROUP BY clip_id ORDER BY clip_id
    """,
    survey_ids=("X5", "X3", "J1", "A1"),
)
def x5_scene_cut_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection — the video-curation primitive that turns a
    clip into shots before frame sampling: adjacent-frame feature
    cosine drops below a threshold at a hard cut. The fixture's
    `embeddings` stand in for per-frame features (vec_id div 16 =
    clip, vec_id mod 16 = frame index); a real deployment feeds
    decoded frame features through the same plan.

    Plan: one embedding scan -> self-join keyed on (clip_id,
    frame_idx + 1) — per-clip state is CLIP_FRAMES-bounded, so the
    join partitions by clip and never widens — -> per-clip rollup.
    Cosines are floored to e6 BIGINTs with the exact
    LIST_DOT_PRODUCT spelling `x3_cosine_topk` pins; the rollup
    reports the sum (exact integer), not a mean, so no float or
    signed-division drift crosses engines. At 100 TB: clips hash
    across executors, every stage is linear in frames."""
    f = t(spark, sf_dir, "embeddings").select(
        F.expr(f"vec_id div {CLIP_FRAMES}").alias("clip_id"),
        (F.col("vec_id") % CLIP_FRAMES).alias("frame_idx"),
        _as_double("embedding").alias("v"),
    )
    a = f.select("clip_id", "frame_idx", F.col("v").alias("va"))
    b = f.select(
        "clip_id",
        (F.col("frame_idx") - 1).alias("frame_idx"),
        F.col("v").alias("vb"),
    )
    tr = a.join(b, ["clip_id", "frame_idx"]).select(
        "clip_id",
        F.floor(cosine(F.col("va"), F.col("vb")) * 1_000_000)
        .cast("long")
        .alias("cos_e6"),
    )
    cut = F.when(F.col("cos_e6") < CUT_TAU_E6, 1).otherwise(0)
    return (
        tr.groupBy("clip_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.sum(cut).cast("long").alias("n_cuts"),
            (F.sum(cut) + 1).cast("long").alias("n_segments"),
            F.min("cos_e6").cast("long").alias("min_cos_e6"),
            F.sum("cos_e6").cast("long").alias("sum_cos_e6"),
        )
        .orderBy("clip_id")
    )


# ---------------------------------------------------------------------------
# interval-join bin-width sweep (the temporal-join bucketing knob)
# ---------------------------------------------------------------------------

#: Pair window: ordered same-user event pairs with 0 < gap <= 1 hour.
PAIR_DELTA_US = 3_600 * 1_000_000
#: Swept bucket widths, minutes. 60 = the window itself; 15 trades 4x
#: left-side replication for tight candidates; 1440 buckets by day.
BIN_W_SWEEP_MIN = (15, 60, 240, 1440)


def _bin_sweep_oracle() -> str:
    widths = ", ".join(str(m) for m in BIN_W_SWEEP_MIN)
    return f"""
    WITH w AS (SELECT UNNEST([{widths}]::BIGINT[]) AS bin_w_min),
    e AS (
        SELECT event_id, user_id,
               EPOCH_US(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events
    ),
    a AS (
        SELECT w.bin_w_min, e.event_id AS ea, e.user_id, e.ts_us AS ts_a,
               UNNEST(GENERATE_SERIES(
                   e.ts_us // (w.bin_w_min * 60000000),
                   (e.ts_us + {PAIR_DELTA_US}) // (w.bin_w_min * 60000000)
               )) AS b
        FROM e CROSS JOIN w
    ),
    fan AS (
        SELECT bin_w_min, CAST(COUNT(*) AS BIGINT) AS n_fanout_rows
        FROM a GROUP BY bin_w_min
    ),
    cand AS (
        SELECT a.bin_w_min, a.ea, e2.event_id AS eb, a.ts_a,
               e2.ts_us AS ts_b
        FROM a JOIN e e2
          ON e2.user_id = a.user_id
         AND e2.ts_us // (a.bin_w_min * 60000000) = a.b
         AND e2.event_id <> a.ea
    ),
    agg AS (
        SELECT bin_w_min,
               CAST(COUNT(DISTINCT (ea, eb)) AS BIGINT) AS n_candidates,
               CAST(COUNT(DISTINCT CASE
                   WHEN ts_b > ts_a AND ts_b - ts_a <= {PAIR_DELTA_US}
                   THEN (ea, eb) END) AS BIGINT) AS n_true_pairs
        FROM cand GROUP BY bin_w_min
    )
    SELECT f.bin_w_min, f.n_fanout_rows, agg.n_candidates, agg.n_true_pairs
    FROM fan f JOIN agg USING (bin_w_min)
    ORDER BY f.bin_w_min
    """


@register(
    "j_range_bin_width_sweep",
    oracle=_bin_sweep_oracle(),
    survey_ids=("J7", "A1", "X4"),
)
def j_range_bin_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-width knob curve for the interval-join decomposition
    `j_theta_banded_bucketed` pins: same-user event pairs within one
    hour, rewritten as an EQUI join on (user, time bucket) with the
    left side exploded across the buckets its window covers. Per
    width: `n_fanout_rows` (left-side replication the shuffle pays),
    `n_candidates` (equi-join output the residual filter pays), and
    `n_true_pairs` — CONSTANT across widths because a true pair's
    right bucket always lies inside the left row's covered range
    (floor is monotone), the no-lost-pairs invariant that makes the
    rewrite safe. Small buckets replicate more but filter less; day
    buckets replicate nothing and pay ~9x candidate blowup — the
    curve is the number a temporal-join tuner reads before picking W.

    Plan: ONE event scan serves all four widths (widths explode onto
    it); both join sides key on (width, user, bucket), so density is
    per-user bounded and no stage is all-pairs. At 100 TB this is the
    standard windowed-self-join shape, shuffle-partitioned by user."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    widths = F.array(*[F.lit(m).cast("long") for m in BIN_W_SWEEP_MIN])
    a = ev.select(
        F.explode(widths).alias("bin_w_min"),
        F.col("event_id").alias("ea"),
        "user_id",
        F.col("ts_us").alias("ts_a"),
    ).select(
        "bin_w_min",
        "ea",
        "user_id",
        "ts_a",
        F.explode(
            F.sequence(
                F.expr(f"ts_a div (bin_w_min * 60000000)"),
                F.expr(f"(ts_a + {PAIR_DELTA_US}) div (bin_w_min * 60000000)"),
            )
        ).alias("b"),
    )
    fan = a.groupBy("bin_w_min").agg(
        F.count(F.lit(1)).cast("long").alias("n_fanout_rows")
    )
    e2 = ev.select(
        F.col("event_id").alias("eb"),
        F.col("user_id").alias("user_b"),
        F.col("ts_us").alias("ts_b"),
    )
    cand = a.join(
        e2,
        (F.col("user_id") == F.col("user_b"))
        & (F.expr("ts_b div (bin_w_min * 60000000)") == F.col("b"))
        & (F.col("eb") != F.col("ea")),
    ).select("bin_w_min", "ea", "eb", "ts_a", "ts_b")
    true_flag = (F.col("ts_b") > F.col("ts_a")) & (
        F.col("ts_b") - F.col("ts_a") <= PAIR_DELTA_US
    )
    agg = (
        cand.select("bin_w_min", "ea", "eb", true_flag.alias("is_true"))
        .groupBy("bin_w_min", "ea", "eb")
        .agg(F.max("is_true").alias("is_true"))
        .groupBy("bin_w_min")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("is_true"), 1).otherwise(0))
            .cast("long")
            .alias("n_true_pairs"),
        )
    )
    return (
        fan.join(agg, "bin_w_min")
        .select("bin_w_min", "n_fanout_rows", "n_candidates", "n_true_pairs")
        .orderBy("bin_w_min")
    )


# ---------------------------------------------------------------------------
# keyframe selection per scene segment (the downstream of scene cuts)
# ---------------------------------------------------------------------------


@register(
    "x5_keyframe_selection",
    oracle=f"""
    WITH f AS (
        SELECT vec_id // {CLIP_FRAMES} AS clip_id,
               vec_id % {CLIP_FRAMES} AS frame_idx,
               embedding::DOUBLE[] AS v
        FROM embeddings
    ),
    lagd AS (
        SELECT clip_id, frame_idx, v,
               LAG(v) OVER (PARTITION BY clip_id ORDER BY frame_idx) AS pv
        FROM f
    ),
    seg AS (
        SELECT clip_id, frame_idx,
               CAST(FLOOR(LIST_DOT_PRODUCT(v, v) * 1000000) AS BIGINT)
                   AS norm_e6,
               SUM(CASE WHEN pv IS NOT NULL
                         AND CAST(FLOOR(LIST_DOT_PRODUCT(pv, v)
                              / (SQRT(LIST_DOT_PRODUCT(pv, pv))
                                 * SQRT(LIST_DOT_PRODUCT(v, v))) * 1000000)
                              AS BIGINT) < {CUT_TAU_E6}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY clip_id ORDER BY frame_idx)
                   AS segment_id
        FROM lagd
    ),
    smax AS (
        SELECT clip_id, segment_id,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               MAX(norm_e6) AS key_norm_e6
        FROM seg GROUP BY clip_id, segment_id
    )
    SELECT s.clip_id, CAST(s.segment_id AS BIGINT) AS segment_id,
           s.n_frames,
           CAST(MIN(g.frame_idx) AS BIGINT) AS keyframe_idx,
           CAST(s.key_norm_e6 AS BIGINT) AS key_norm_e6
    FROM smax s
    JOIN seg g ON g.clip_id = s.clip_id AND g.segment_id = s.segment_id
              AND g.norm_e6 = s.key_norm_e6
    GROUP BY s.clip_id, s.segment_id, s.n_frames, s.key_norm_e6
    ORDER BY s.clip_id, s.segment_id
    """,
    survey_ids=("X5", "W2", "A1"),
)
def x5_keyframe_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe selection per scene segment — the step after
    `x5_scene_cut_detection` that turns shots into the frame table a
    vision pipeline actually embeds: segment frames at the cuts
    (running cut count per clip), then keep ONE representative frame
    per segment — the max-feature-norm frame (the sharpness proxy;
    swap in a real sharpness score via the decode UDF path), ties to
    the earliest frame.

    Plan: one scan -> per-clip lag + running-sum windows (bounded:
    CLIP_FRAMES rows per partition) -> segment rollup -> argmax via a max-norm
    equi-join back (deterministic, no engine-specific arg_max). At
    100 TB clips hash across executors; every stage is linear."""
    w = Window.partitionBy("clip_id").orderBy("frame_idx")
    f = t(spark, sf_dir, "embeddings").select(
        F.expr(f"vec_id div {CLIP_FRAMES}").alias("clip_id"),
        (F.col("vec_id") % CLIP_FRAMES).alias("frame_idx"),
        _as_double("embedding").alias("v"),
    )
    lagd = f.withColumn("pv", F.lag("v").over(w))
    cos_e6 = F.floor(cosine(F.col("pv"), F.col("v")) * 1_000_000).cast("long")
    seg = lagd.select(
        "clip_id",
        "frame_idx",
        F.floor(_dot(F.col("v"), F.col("v")) * 1_000_000)
        .cast("long")
        .alias("norm_e6"),
        F.sum(
            F.when(F.col("pv").isNotNull() & (cos_e6 < CUT_TAU_E6), 1).otherwise(0)
        )
        .over(w)
        .cast("long")
        .alias("segment_id"),
    )
    smax = seg.groupBy("clip_id", "segment_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.max("norm_e6").alias("key_norm_e6"),
    )
    return (
        smax.join(
            seg.select(
                "clip_id",
                "segment_id",
                F.col("norm_e6").alias("key_norm_e6"),
                "frame_idx",
            ),
            ["clip_id", "segment_id", "key_norm_e6"],
        )
        .groupBy("clip_id", "segment_id", "n_frames", "key_norm_e6")
        .agg(F.min("frame_idx").cast("long").alias("keyframe_idx"))
        .select("clip_id", "segment_id", "n_frames", "keyframe_idx", "key_norm_e6")
        .orderBy("clip_id", "segment_id")
    )


# ---------------------------------------------------------------------------
# salt-factor sweep (pricing the hot-key remedy the skew audit proposes)
# ---------------------------------------------------------------------------

#: Swept salt factors (1 = unsalted baseline).
SALT_FACTOR_SWEEP = (1, 4, 16, 64)
#: Deterministic hot key: 3 of 4 event rows collapse onto user 0 —
#: the planted-skew convention (the raw fixture's keys are uniform,
#: max share 0.9%, which motivates nothing).
_HOT_KEY_CASE = "CASE WHEN user_id % 4 = 0 THEN user_id ELSE 0 END"


def _salt_sweep_oracle() -> str:
    factors = ", ".join(str(s) for s in SALT_FACTOR_SWEEP)
    return f"""
    WITH ev AS (
        SELECT event_id, {_HOT_KEY_CASE} AS k FROM events
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM ev),
    nk AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys FROM ev),
    s AS (SELECT UNNEST([{factors}]::BIGINT[]) AS salt_factor),
    salted AS (
        SELECT s.salt_factor, ev.k,
               (instr('{_HEX}', SUBSTR(MD5('salt|' || CAST(ev.event_id AS VARCHAR)), 1, 1)) - 1) * 16
               + instr('{_HEX}', SUBSTR(MD5('salt|' || CAST(ev.event_id AS VARCHAR)), 2, 1)) - 1
                   AS h
        FROM ev CROSS JOIN s
    ),
    per_key AS (
        SELECT salt_factor, k, h % salt_factor AS salt,
               CAST(COUNT(*) AS BIGINT) AS rows_in_key
        FROM salted GROUP BY salt_factor, k, h % salt_factor
    )
    SELECT p.salt_factor,
           CAST(COUNT(*) AS BIGINT) AS n_shuffle_keys,
           CAST(MAX(p.rows_in_key) AS BIGINT) AS max_key_rows,
           CAST(MAX(p.rows_in_key) * 1000000 // MAX(n.total) AS BIGINT)
               AS max_share_ppm,
           CAST(MAX(nk.n_keys) * p.salt_factor AS BIGINT)
               AS replication_rows
    FROM per_key p CROSS JOIN n CROSS JOIN nk
    GROUP BY p.salt_factor
    ORDER BY p.salt_factor
    """


@register(
    "j_salt_factor_sweep",
    oracle=_salt_sweep_oracle(),
    survey_ids=("J6", "A1", "X4"),
)
def j_salt_factor_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-factor knob curve for the hot-key join remedy: per factor
    s (1/4/16/64), the shuffle-key relation's straggler bound
    (max rows landing on one (key, salt) shuffle key — the biggest
    task a skewed join must finish) against the price (small side
    replicated s times: `replication_rows` = |dim keys| x s). The
    skew audit `x4_key_skew_audit` DIAGNOSES the hot key; this curve
    prices `operators/skew.salted_join`'s factor argument. Skew is
    planted deterministically (3/4 of rows collapse onto key 0; the
    raw fixture is uniform); the salt is md5-derived from the row id
    — the reproducible-everywhere hash family every LSH operator here
    uses, NOT `rand()`, so both engines bucket identically.

    Plan: ONE event scan x 4 broadcast factors -> one (factor, key,
    salt) map-combined rollup -> one factor rollup. Linear; the sweep
    relation is |factors| x |keys|-bounded."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", F.expr(_HOT_KEY_CASE).alias("k")
    )
    total = ev.groupBy().agg(F.count(F.lit(1)).cast("long").alias("total"))
    nkeys = ev.groupBy().agg(
        F.count_distinct("k").cast("long").alias("n_keys")
    )
    factors = F.array(*[F.lit(s).cast("long") for s in SALT_FACTOR_SWEEP])
    h = F.expr(
        f"(instr('{_HEX}', substring(md5(concat('salt|', cast(event_id as string))), 1, 1)) - 1) * 16"
        f" + instr('{_HEX}', substring(md5(concat('salt|', cast(event_id as string))), 2, 1)) - 1"
    )
    salted = ev.select(
        "k", h.alias("h"), F.explode(factors).alias("salt_factor")
    )
    per_key = salted.groupBy(
        "salt_factor", "k", (F.col("h") % F.col("salt_factor")).alias("salt")
    ).agg(F.count(F.lit(1)).cast("long").alias("rows_in_key"))
    return (
        per_key.groupBy("salt_factor")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shuffle_keys"),
            F.max("rows_in_key").cast("long").alias("max_key_rows"),
        )
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(nkeys))
        .select(
            "salt_factor",
            "n_shuffle_keys",
            "max_key_rows",
            F.expr("CAST(max_key_rows * 1000000 div total AS LONG)").alias(
                "max_share_ppm"
            ),
            (F.col("n_keys") * F.col("salt_factor"))
            .cast("long")
            .alias("replication_rows"),
        )
        .orderBy("salt_factor")
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
    from .packing import MIXTURE_WEIGHTS

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
               CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)
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
    from .packing import MIXTURE_WEIGHTS

    docs = t(spark, sf_dir, "documents")
    alloc = " ".join(
        f"WHEN '{lang}' THEN {int(EPOCHS_BUDGET_TOKENS * w)}"
        for lang, w in MIXTURE_WEIGHTS.items()
    )
    eff = (
        f"CASE WHEN ep <= 1.0D THEN ep"
        f" ELSE 1.0D + {EPOCHS_R_STAR} * (1.0D - EXP(-(ep - 1.0D) / {EPOCHS_R_STAR})) END"
    )
    supply = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("avail_tokens")
    ).withColumn(
        "alloc_tokens",
        F.expr(f"CAST(CASE lang {alloc} ELSE 0 END AS LONG)"),
    )
    ep = supply.withColumn(
        "ep", F.col("alloc_tokens").cast("double") / F.col("avail_tokens")
    )
    return ep.select(
        "lang",
        "avail_tokens",
        "alloc_tokens",
        F.expr("CAST(alloc_tokens * 1000000 div avail_tokens AS LONG)").alias(
            "epochs_e6"
        ),
        F.expr(f"CAST(FLOOR(({eff}) * 1000000) AS LONG)").alias("eff_epochs_e6"),
        F.expr(
            f"CAST(avail_tokens * CAST(FLOOR(({eff}) * 1000000) AS LONG)"
            f" div 1000000 AS LONG)"
        ).alias("effective_tokens"),
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
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) - 1 AS pos,
               LEN(STRING_SPLIT(text, ' ')) AS n_tokens
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
    {SPAN_LEN}x span explode -> distinct + keyed self-join + per-doc
    rollup. Linear; no all-pairs, no global window."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tk"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    gate = (
        f"(instr('{_HEX}', substring(md5(concat('span|', cast(doc_id as string),"
        f" '|', cast(pos as string))), 1, 1)) - 1) * 16"
        f" + instr('{_HEX}', substring(md5(concat('span|', cast(doc_id as string),"
        f" '|', cast(pos as string))), 2, 1)) - 1 < {SPAN_START_BOUND}"
    )
    starts = tok.filter(F.expr(gate)).select("doc_id", "pos")
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
    nt = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return (
        nt.join(runs, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_masked", F.lit(0)).cast("long").alias("n_masked"),
            F.expr(
                "CAST(COALESCE(n_masked, 0) * 1000000 div n_tokens AS LONG)"
            ).alias("corruption_e6"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# DP epsilon-utility sweep (privacy ladder rung 5: pricing the budget)
# ---------------------------------------------------------------------------

#: Privacy budgets swept, e3 fixed point (0.1, 1, 10).
DP_EPSILON_SWEEP_E3 = (100, 1_000, 10_000)
#: Utility bar: a day's released count is "usable" when the expected
#: absolute Laplace noise is under 5% of the true count.
DP_UTILITY_BAR_E6 = 50_000


def _dp_sweep_oracle() -> str:
    eps = ", ".join(str(e) for e in DP_EPSILON_SWEEP_E3)
    return f"""
    WITH per_user AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY day, user_id
    ),
    days AS (
        SELECT day,
               CAST(SUM(n_rows) AS BIGINT) AS true_count,
               CAST(MAX(n_rows) AS BIGINT) AS sens
        FROM per_user GROUP BY day
    ),
    e AS (SELECT UNNEST([{eps}]::BIGINT[]) AS epsilon_e3)
    SELECT e.epsilon_e3,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(d.sens * 1000000000 // e.epsilon_e3) // COUNT(*)
                AS BIGINT) AS mean_noise_scale_e6,
           CAST(MAX(d.sens * 1000000000 // e.epsilon_e3 * 1000000
                    // (d.true_count * 1000000)) AS BIGINT)
               AS worst_rel_err_e6,
           CAST(SUM(CASE WHEN d.sens * 1000000000 // e.epsilon_e3
                              * 1000000 // (d.true_count * 1000000)
                         < {DP_UTILITY_BAR_E6} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_usable_days
    FROM days d CROSS JOIN e
    GROUP BY e.epsilon_e3
    ORDER BY e.epsilon_e3
    """


@register(
    "x4_dp_epsilon_utility_sweep",
    oracle=_dp_sweep_oracle(),
    survey_ids=("X4", "A1"),
)
def x4_dp_epsilon_utility_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-budget knob curve — rung 5 of the DP ladder: the
    sensitivity audit measured Δf per day; this prices ε. For each
    budget (0.1 / 1 / 10), the Laplace scale b = Δf/ε IS the expected
    absolute noise on the released daily count, so per ε the sweep
    reports the mean noise scale, the worst day's expected RELATIVE
    error, and how many days clear the 5% utility bar — the table a
    data owner reads to pick the budget BEFORE any noisy release
    (deterministic: the audit prices the mechanism's parameter, it
    never draws noise).

    Exact integer fixed point throughout: ε in e3, b in e6
    (Δf·1e9 div ε_e3), relative error in e6 via one identical
    truncating division chain in both engines. Plan: the sensitivity
    lattice (|days| rows) × 3 broadcast budgets — ~free at any
    corpus size."""
    ev = t(spark, sf_dir, "events").select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"), "user_id"
    )
    days = (
        ev.groupBy("day", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .groupBy("day")
        .agg(
            F.sum("n_rows").cast("long").alias("true_count"),
            F.max("n_rows").cast("long").alias("sens"),
        )
    )
    eps = F.array(*[F.lit(e).cast("long") for e in DP_EPSILON_SWEEP_E3])
    x = days.select(
        "day", "true_count", "sens", F.explode(eps).alias("epsilon_e3")
    ).withColumn(
        "rel_err_e6",
        F.expr(
            "sens * 1000000000 div epsilon_e3 * 1000000"
            " div (true_count * 1000000)"
        ).cast("long"),
    )
    return (
        x.groupBy("epsilon_e3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.expr(
                "CAST(SUM(sens * 1000000000 div epsilon_e3) div COUNT(1) AS LONG)"
            ).alias("mean_noise_scale_e6"),
            F.max("rel_err_e6").cast("long").alias("worst_rel_err_e6"),
            F.sum(
                F.when(F.col("rel_err_e6") < DP_UTILITY_BAR_E6, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_usable_days"),
        )
        .orderBy("epsilon_e3")
    )


# ---------------------------------------------------------------------------
# media curation attrition (the composed X5 funnel)
# ---------------------------------------------------------------------------


def _media_attrition_oracle() -> str:
    from .multimodal import X5_CLIP_TAU_E6, X5_TXT_DIM

    return f"""
    WITH pop AS (
        SELECT doc_id AS media_id, text AS body FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text || ' re' FROM documents
        WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
    ),
    sized AS (
        SELECT media_id, body,
               CAST(OCTET_LENGTH(ENCODE(body)) AS BIGINT) AS n_bytes
        FROM pop
    ),
    exact_keep AS (
        SELECT MIN(media_id) AS media_id FROM sized GROUP BY MD5(body)
    ),
    s2 AS (
        SELECT s.media_id, s.n_bytes FROM sized s
        JOIN exact_keep k ON k.media_id = s.media_id
    ),
    orig AS (
        SELECT doc_id AS media_id, SUBSTR(MD5(text), 1, 16) AS phash
        FROM documents
    ),
    re AS (
        SELECT media_id + 1000000 AS media_id,
               SUBSTR(phash, 1, pos - 1)
               || SUBSTR('{_HEX}',
                         xor(instr('{_HEX}', SUBSTR(phash, pos, 1)) - 1, 1) + 1,
                         1)
               || SUBSTR(phash, pos + 1, 16 - pos) AS phash
        FROM (
            SELECT media_id, phash, CAST(media_id % 16 + 1 AS INT) AS pos
            FROM orig WHERE media_id % 5 = 0
        )
    ),
    m AS (SELECT * FROM orig UNION ALL SELECT * FROM re),
    bands AS (
        SELECT media_id, g.b AS band_id,
               SUBSTR(phash, g.b * 4 + 1, 4) AS band_key
        FROM m CROSS JOIN (SELECT UNNEST(RANGE(0, {PHASH_BANDS})) AS b) g
    ),
    cand AS (
        SELECT DISTINCT a.media_id AS media_a, c.media_id AS media_b
        FROM bands a JOIN bands c
          ON a.band_id = c.band_id AND a.band_key = c.band_key
         AND a.media_id < c.media_id
    ),
    ham AS (
        SELECT cand.media_b,
               CAST(SUM(bit_count(xor(
                   instr('{_HEX}', SUBSTR(ma.phash, p.p, 1)) - 1,
                   instr('{_HEX}', SUBSTR(mb.phash, p.p, 1)) - 1
               ))) AS BIGINT) AS hamming
        FROM cand
        JOIN m ma ON ma.media_id = cand.media_a
        JOIN m mb ON mb.media_id = cand.media_b
        CROSS JOIN (SELECT UNNEST(RANGE(1, 17)) AS p) p
        GROUP BY cand.media_a, cand.media_b
    ),
    phash_drop AS (
        SELECT DISTINCT media_b AS media_id FROM ham
        WHERE hamming <= {PHASH_HAM_TAU}
    ),
    s3 AS (
        SELECT s2.media_id, s2.n_bytes FROM s2
        ANTI JOIN phash_drop d ON d.media_id = s2.media_id
    ),
    img AS (
        SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    tok AS (
        SELECT media_id, UNNEST(STRING_SPLIT(text, ' ')) AS tk FROM img
    ),
    txt AS (
        SELECT media_id,
               CAST(('0x' || SUBSTR(MD5(tk), 1, 4)) AS BIGINT)
                   % {X5_TXT_DIM} AS dim,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM tok GROUP BY media_id, dim
    ),
    tn AS (
        SELECT media_id, CAST(SUM(w * w) AS BIGINT) AS nt2
        FROM txt GROUP BY media_id
    ),
    iv AS (
        SELECT vec_id, GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim,
               CAST(FLOOR(UNNEST(embedding::DOUBLE[]) * 1000000) AS BIGINT)
                   AS v6
        FROM embeddings
    ),
    inorm AS (
        SELECT vec_id, CAST(SUM(v6 * v6) AS BIGINT) AS ni2
        FROM iv GROUP BY vec_id
    ),
    dots AS (
        SELECT t.media_id, CAST(SUM(t.w * iv.v6) AS BIGINT) AS dot6
        FROM txt t JOIN iv ON iv.vec_id = t.media_id AND iv.dim = t.dim
        GROUP BY t.media_id
    ),
    clip_drop AS (
        SELECT d.media_id
        FROM dots d
        JOIN tn ON tn.media_id = d.media_id
        JOIN inorm ON inorm.vec_id = d.media_id
        WHERE CAST(FLOOR(d.dot6 * 1.0
                   / (SQRT(CAST(tn.nt2 AS DOUBLE))
                      * SQRT(CAST(inorm.ni2 AS DOUBLE))) * 1000000) AS BIGINT)
              < {X5_CLIP_TAU_E6}
    ),
    s4 AS (
        SELECT s3.media_id, s3.n_bytes FROM s3
        ANTI JOIN clip_drop d ON d.media_id = s3.media_id
    )
    SELECT * FROM (
        SELECT 1 AS stage_no, 'total' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(n_bytes) AS BIGINT) AS n_bytes FROM sized
        UNION ALL
        SELECT 2, 'after_exact_payload_dedup',
               CAST(COUNT(*) AS BIGINT), CAST(SUM(n_bytes) AS BIGINT) FROM s2
        UNION ALL
        SELECT 3, 'after_phash_neardup',
               CAST(COUNT(*) AS BIGINT), CAST(SUM(n_bytes) AS BIGINT) FROM s3
        UNION ALL
        SELECT 4, 'after_clip_gate',
               CAST(COUNT(*) AS BIGINT), CAST(SUM(n_bytes) AS BIGINT) FROM s4
    ) ORDER BY stage_no
    """


@register(
    "x5_media_curation_attrition",
    oracle=_media_attrition_oracle(),
    survey_ids=("X5", "X1", "X2", "X3"),
)
def x5_media_curation_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed X5 curation funnel — the media sibling of
    `x4_pipeline_attrition`: item and byte counts surviving each stage
    of a crawled-media ingest. Population = corpus + a re-encode batch
    (every 5th item, different bytes, near-identical fingerprint) + a
    mirror batch (every 7th, byte-identical). Stages: total → exact
    payload dedup (kills the mirrors — md5 digest groupBy, the
    `x5_payload_dedup` tier) → pHash near-dup (kills the re-encodes —
    the `x5_phash_hamming_neardup` banded pipeline, higher id of each
    accepted pair drops) → CLIP caption gate (drops scored images
    below τ — the `x5_crossmodal_clip_gate` towers). The bytes column
    prices each tier before anything is rewritten — the number a
    100 TB media ingest reads to decide which tier pays for itself.

    Every stage reuses the registered component's exact spelling, so
    the funnel always describes the pipeline as shipped (the
    `x4_pipeline_attrition` shared-builder argument)."""
    from .multimodal import X5_CLIP_TAU_E6, X5_TXT_DIM

    docs = t(spark, sf_dir, "documents")
    pop = (
        docs.select(F.col("doc_id").alias("media_id"), F.col("text").alias("body"))
        .unionByName(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("media_id"),
                F.concat(F.col("text"), F.lit(" re")).alias("body"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("media_id"),
                F.col("text").alias("body"),
            )
        )
    )
    sized = pop.select(
        "media_id",
        "body",
        F.length(F.col("body").cast("binary")).cast("long").alias("n_bytes"),
    ).localCheckpoint(eager=True)  # population consumed by every stage
    exact_keep = sized.groupBy(F.md5("body")).agg(
        F.min("media_id").alias("media_id")
    ).select("media_id")
    s2 = sized.join(exact_keep, "media_id", "left_semi").select(
        "media_id", "n_bytes"
    )
    phash_drop = (
        x5_phash_hamming_neardup(spark, sf_dir)
        .select(F.col("media_b").alias("media_id"))
        .distinct()
    )
    s3 = s2.join(phash_drop, "media_id", "left_anti")
    clip_drop = (
        x5_crossmodal_clip_gate(spark, sf_dir)
        .filter(F.col("clip_cos6") < X5_CLIP_TAU_E6)
        .select("media_id")
    )
    s4 = s3.join(clip_drop, "media_id", "left_anti")

    def stage(no, name, df):
        return df.agg(
            F.lit(no).cast("long").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
        )

    return (
        stage(1, "total", sized.select("media_id", "n_bytes"))
        .unionByName(stage(2, "after_exact_payload_dedup", s2))
        .unionByName(stage(3, "after_phash_neardup", s3))
        .unionByName(stage(4, "after_clip_gate", s4))
        .orderBy("stage_no")
    )


# ---------------------------------------------------------------------------
# what dedup did to the corpus: unigram distribution shift
# ---------------------------------------------------------------------------


def _dedup_shift_oracle() -> str:
    from .surfaces_r12 import _DUCK_KEPT

    return f"""
    WITH {_DUCK_KEPT},
    pre AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS c_pre FROM tok GROUP BY tk
    ),
    post AS (
        SELECT tk, CAST(COUNT(*) AS BIGINT) AS c_post FROM kept GROUP BY tk
    ),
    np AS (SELECT CAST(SUM(c_pre) AS BIGINT) AS n_pre FROM pre),
    nq AS (SELECT CAST(SUM(c_post) AS BIGINT) AS n_post FROM post),
    kl AS (
        SELECT CAST(SUM(post.c_post * CAST(FLOOR(LN(
                   (post.c_post * 1.0 * np.n_pre)
                   / (pre.c_pre * 1.0 * nq.n_post)
               ) * 1000000) AS BIGINT)) AS BIGINT) AS kl_num
        FROM post JOIN pre USING (tk) CROSS JOIN np CROSS JOIN nq
    )
    SELECT np.n_pre AS n_tokens_pre,
           nq.n_post AS n_tokens_post,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pre) AS n_types_pre,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM post) AS n_types_post,
           CAST(GREATEST(kl.kl_num, 0) // nq.n_post AS BIGINT) AS kl_post_pre_e6
    FROM np CROSS JOIN nq CROSS JOIN kl
    """


@register(
    "x2_dedup_distribution_shift",
    oracle=_dedup_shift_oracle(),
    survey_ids=("X2", "X4", "A1", "F6"),
)
def x2_dedup_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup DID to the corpus: the unigram-distribution shift
    across the ExactSubstr removal (`x2_removal_rematerialize`'s kept
    tokens vs the original), reported as KL(post || pre) in nats e6 —
    the audit that catches a dedup pass silently skewing the token
    distribution (duplicated boilerplate is exactly the high-frequency
    mass removal deletes, so some shift is EXPECTED; a large one means
    the dedup policy rewrote the corpus's statistics, which downstream
    LM quality scores inherit). Kept tokens are a subset of the
    original, so every post type exists in pre — KL is finite by
    construction, no smoothing needed.

    Per-type ln floored to e6 then exact integer sums (the
    `x4_entropy_per_source` discipline); one token scan feeds both
    distributions (the kept side reuses the rematerialize pipeline's
    anti-join). Output: one row — token/type counts both sides + the
    divergence."""
    from .surfaces_r12 import rematerialized_tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("tk"))
    pre = tok.groupBy("tk").agg(F.count(F.lit(1)).cast("long").alias("c_pre"))
    post = (
        rematerialized_tokens(docs)
        .groupBy("tk")
        .agg(F.count(F.lit(1)).cast("long").alias("c_post"))
    )
    np_ = pre.agg(
        F.sum("c_pre").cast("long").alias("n_pre"),
        F.count(F.lit(1)).cast("long").alias("n_types_pre"),
    )
    nq_ = post.agg(
        F.sum("c_post").cast("long").alias("n_post"),
        F.count(F.lit(1)).cast("long").alias("n_types_post"),
    )
    kl = (
        post.join(pre, "tk")
        .crossJoin(F.broadcast(np_.select("n_pre")))
        .crossJoin(F.broadcast(nq_.select("n_post")))
        .select(
            (
                F.col("c_post")
                * F.floor(
                    F.log(
                        (F.col("c_post") * F.lit(1.0) * F.col("n_pre"))
                        / (F.col("c_pre") * F.lit(1.0) * F.col("n_post"))
                    )
                    * 1_000_000
                ).cast("long")
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("kl_num"))
    )
    return (
        np_.crossJoin(nq_)
        .crossJoin(F.broadcast(kl))
        .select(
            F.col("n_pre").alias("n_tokens_pre"),
            F.col("n_post").alias("n_tokens_post"),
            "n_types_pre",
            "n_types_post",
            # GREATEST(kl_num, 0): the per-type ln floors can push the
            # numerator slightly negative when the true KL ≈ 0, and
            # Spark's `div` truncates toward zero while DuckDB's `//`
            # floors — clamping at the mathematical lower bound (KL ≥ 0)
            # makes the spellings identical in both engines (r12 advice).
            F.expr("CAST(GREATEST(kl_num, 0) div n_post AS LONG)").alias(
                "kl_post_pre_e6"
            ),
        )
    )
