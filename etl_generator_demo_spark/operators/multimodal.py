"""Multimodal column plumbing — SURVEY.md §2.12 X5 ([EXT]).

Media are opaque ``binary`` columns plus a typed metadata struct; the
heavy per-item work (decode, resize, feature-extract, frame-sample)
runs as Arrow-batched ``mapInPandas`` so executors stream record
batches without row-at-a-time Python overhead. The actual codec calls
are STUBBED (no image/audio libraries in this container) behind a
deterministic fake keyed on the content hash — the Spark-side plumbing
(schema, batch iteration, partition parallelism, UDF signature) is
real and tested.

At 100 TB: binary payloads dominate I/O, so the decode stage must
(a) read only the binary column it needs (columnar pruning),
(b) scale batch size by payload, and (c) never collect — the pattern
below does all three.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.operators.similarity import _as_double, _dot, cosine
from etl_generator_demo_spark.operators.skew import _HEX
from etl_generator_demo_spark.operators.stats import div
from etl_generator_demo_spark.operators.tokens import _duck_tokens, doc_tokens
from etl_generator_demo_spark.registry import register

#: Canonical multimodal schema: payload + typed sidecar metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType(), True),
                    StructField("n_bytes", LongType(), True),
                    StructField("source", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_frames", LongType(), True),
    ]
)


def as_media_table(docs: DataFrame) -> DataFrame:
    """Adapt the documents fixture into the multimodal schema (payload =
    utf-8 bytes; in production this is the raw image/audio blob)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes, media_type: str) -> tuple[int, int, int]:
    """Deterministic stand-in for the codec call. Real deployments swap
    this for PIL/ffmpeg/torchaudio; everything around it is unchanged.

    Raises NotImplementedError for unknown media types — the real
    decoder's contract.
    """
    if media_type not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for media_type={media_type!r}")
    h = len(payload)
    width = 64 + (h % 512)
    height = 64 + ((h // 7) % 512)
    n_frames = 1 if media_type == "image" else 1 + (h % 240)
    return width, height, n_frames


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode: one pandas batch in, one out — columnar
    transfer, no per-row Python dispatch.

    The batch function is deliberately SELF-CONTAINED (local imports,
    no module-global references): executor Python workers unpickle it
    without importing this package, which may not be on their
    sys.path when the driver process runs from another directory.
    """

    def decode_batches(batches):
        import pandas as _pd  # local: workers may not see this module's globals

        def fake_decode(payload, media_type):
            # keep in sync with _fake_decode below (tested there)
            if media_type not in ("image", "audio", "video"):
                raise NotImplementedError(f"no decoder for media_type={media_type!r}")
            h = len(payload)
            return (
                64 + (h % 512),
                64 + ((h // 7) % 512),
                1 if media_type == "image" else 1 + (h % 240),
            )

        for pdf in batches:
            dims = [
                fake_decode(p if p is not None else b"", mt)
                for p, mt in zip(pdf["payload"], pdf["media_type"])
            ]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_frames": [d[2] for d in dims],
                }
            )

    return media.mapInPandas(decode_batches, DECODED_SCHEMA)


# ===========================================================================
# Driver-checkable queries
# ===========================================================================

@register(
    "x5_multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           source
    FROM documents
    ORDER BY media_id
    """,
    survey_ids=("X5",),
)
def x5_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload byte length + typed metadata
    (pure JVM path — binary cast, length, struct access)."""
    media = as_media_table(t(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "media_type",
        F.length("payload").cast("long").alias("n_bytes"),
        F.col("meta.source").alias("source"),
    ).orderBy("media_id")


@register(
    "x5_decode_features",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes
        FROM documents
    )
    SELECT media_type,
           COUNT(*) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(CASE WHEN media_type = 'image' THEN 1
                         ELSE 1 + (n_bytes % 240) END) AS BIGINT) AS total_frames
    FROM m
    GROUP BY media_type
    ORDER BY media_type
    """,
    survey_ids=("X5",),
)
def x5_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode pipeline with the deterministic fake codec.
    Oracle-backed: the stub codec is pure OCTET_LENGTH arithmetic
    (``_fake_decode``), so DuckDB reproduces width/height/n_frames
    exactly — a real codec swap would move this back to rows-only +
    pytest. Batch plumbing also pinned in tests/test_multimodal.py."""
    media = as_media_table(t(spark, sf_dir, "documents"))
    return (
        decode_media(media)
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_frames").alias("total_frames"),
        )
        .orderBy("media_type")
    )


@register(
    "x5_frame_samples",
    oracle="""
    WITH vid AS (
        SELECT doc_id AS media_id,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes
        FROM documents
        WHERE doc_id % 3 = 2
    ),
    sized AS (
        SELECT media_id,
               1 + (n_bytes % 240) AS n_frames,
               CAST(CEIL((1 + (n_bytes % 240)) / 8.0) AS BIGINT) AS stride
        FROM vid
    )
    SELECT media_id,
           UNNEST(RANGE(0, n_frames, stride)) AS frame_idx,
           UNNEST(RANGE(0, n_frames, stride)) * 33 AS frame_ts_ms,
           MD5(media_id || ':' || UNNEST(RANGE(0, n_frames, stride))) AS frame_fp
    FROM sized
    ORDER BY media_id, frame_idx
    """,
    survey_ids=("X5",),
)
def x5_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: uniform-stride policy capped at 8 frames
    per item (stride = ceil(n_frames/8)), one output row per sampled
    frame. The SAMPLING PLAN — which frame indexes/timestamps to pull —
    is exact and oracle-checked; pulling the actual frame bytes is the
    stubbed codec step (``_fake_decode`` supplies n_frames here, and
    the fingerprint stands in for the frame payload hash). At 100 TB
    the explode is map-side over the pruned (media_id, n_bytes)
    projection — payload bytes are never read to PLAN the sampling."""
    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "video"
    )
    sized = media.select(
        "media_id",
        (F.lit(1) + F.col("meta.n_bytes") % 240).alias("n_frames"),
    ).withColumn("stride", F.ceil(F.col("n_frames") / 8.0).cast("long"))
    return (
        sized.select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_frames") - 1, F.col("stride"))
            ).alias("frame_idx"),
        )
        .select(
            "media_id",
            "frame_idx",
            (F.col("frame_idx") * 33).alias("frame_ts_ms"),
            F.md5(F.concat(F.col("media_id").cast("string"), F.lit(":"), F.col("frame_idx").cast("string"))).alias(
                "frame_fp"
            ),
        )
        .orderBy("media_id", "frame_idx")
    )


@register(
    "x5_resize_plan",
    oracle="""
    WITH img AS (
        SELECT doc_id AS media_id,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes
        FROM documents WHERE doc_id % 3 = 0
    ),
    dims AS (
        SELECT media_id,
               64 + (n_bytes % 512)        AS width,
               64 + ((n_bytes // 7) % 512) AS height
        FROM img
    )
    SELECT media_id, width, height,
           CASE WHEN GREATEST(width, height) <= 224 THEN width
                ELSE CAST(FLOOR(width * 224.0 / GREATEST(width, height)) AS BIGINT) END
               AS new_width,
           CASE WHEN GREATEST(width, height) <= 224 THEN height
                ELSE CAST(FLOOR(height * 224.0 / GREATEST(width, height)) AS BIGINT) END
               AS new_height
    FROM dims
    ORDER BY media_id
    """,
    survey_ids=("X5",),
)
def x5_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize PLAN (fit longest side to 224, preserve aspect,
    never upscale): the arithmetic every multimodal preprocessing job
    runs before touching pixels, computed scan-side from metadata
    alone — payloads are read only by the (stubbed) resize executor.
    Dimensions come from the deterministic fake decode
    (``_fake_decode``), so the plan is oracle-exact."""
    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "image"
    )
    n = F.col("meta.n_bytes")
    dims = media.select(
        "media_id",
        (F.lit(64) + n % 512).alias("width"),
        (F.lit(64) + (n / 7).cast("long") % 512).alias("height"),
    )
    longest = F.greatest("width", "height")
    return dims.select(
        "media_id",
        "width",
        "height",
        F.when(longest <= 224, F.col("width"))
        .otherwise(F.floor(F.col("width") * 224.0 / longest).cast("long"))
        .alias("new_width"),
        F.when(longest <= 224, F.col("height"))
        .otherwise(F.floor(F.col("height") * 224.0 / longest).cast("long"))
        .alias("new_height"),
    ).orderBy("media_id")


@register(
    "x5_clip_duration_buckets",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               OCTET_LENGTH(ENCODE(text)) AS n
        FROM documents
    ),
    feat AS (
        SELECT media_id, media_type,
               CAST(64 + (n % 512) AS BIGINT) AS width,
               CASE WHEN media_type = 'image' THEN 1 ELSE 1 + (n % 240) END AS n_frames
        FROM m
        WHERE media_type <> 'image'
    )
    SELECT media_type,
           CASE WHEN width >= 320 THEN 'hd' ELSE 'sd' END AS res_class,
           CAST(n_frames // 24 AS BIGINT) // 2 * 2 AS dur_bucket_s,
           CAST(COUNT(*) AS BIGINT) AS n_clips,
           CAST(SUM(n_frames) AS BIGINT) AS total_frames
    FROM feat
    GROUP BY 1, 2, 3
    ORDER BY media_type, res_class, dur_bucket_s
    """,
    survey_ids=("X5", "A1"),
)
def x5_clip_duration_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-length profiling for audio/video curation: 2-second
    duration buckets (stub codec's frame count at 24 fps) crossed with
    a resolution class — the "what does my video corpus look like"
    rollup that decides frame-sampling budgets before any real decode
    runs. Pure metadata arithmetic (the stub's OCTET_LENGTH algebra),
    so the whole profile is one scan + one map-combined groupBy and
    the oracle recomputes it exactly; with a real codec the same
    rollup runs over the decode stage's output columns."""
    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        F.col("media_type") != "image"
    )
    n = F.length("payload")
    n_frames = F.when(F.col("media_type") == "image", F.lit(1)).otherwise(
        1 + (n % 240)
    )
    width = (F.lit(64) + n % 512).cast("long")
    feat = media.select(
        "media_type",
        F.when(width >= 320, "hd").otherwise("sd").alias("res_class"),
        (F.floor(F.floor(n_frames / 24) / 2) * 2).cast("long").alias("dur_bucket_s"),
        n_frames.cast("long").alias("n_frames"),
    )
    return (
        feat.groupBy("media_type", "res_class", "dur_bucket_s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.sum("n_frames").cast("long").alias("total_frames"),
        )
        .orderBy("media_type", "res_class", "dur_bucket_s")
    )


@register(
    "x5_payload_dedup",
    oracle="""
    WITH corpus AS (
        SELECT doc_id AS media_id, text FROM documents
        UNION ALL
        -- the re-crawl batch: every 7th item re-ingested under a new id
        SELECT doc_id + 1000000 AS media_id, text
        FROM documents WHERE doc_id % 7 = 0
    ),
    m AS (
        SELECT media_id,
               MD5(text) AS digest,
               OCTET_LENGTH(CAST(text AS BLOB)) AS n_bytes
        FROM corpus
    )
    SELECT digest,
           MIN(media_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(n_bytes) * (COUNT(*) - 1) AS BIGINT) AS bytes_saved
    FROM m
    GROUP BY digest
    HAVING COUNT(*) > 1
    ORDER BY keep_id
    """,
    survey_ids=("X5", "X1"),
)
def x5_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup of media payloads by content digest — the
    first stage of any multimodal ingest (re-crawls and mirrors ship
    byte-identical blobs under new ids). Demonstrated on the corpus
    plus a simulated re-crawl batch (every 7th item re-keyed), since
    the fixture itself has no byte-identical payloads.

    The digest is computed over the BINARY payload column (md5 maps a
    blob to hex identically in both engines — the oracle hashes the
    same utf-8 bytes through VARCHAR md5). One map-side scan + one
    digest groupBy; at 100 TB the shuffle carries 32-byte digests, not
    payloads, and `bytes_saved` prices the dedup before anything is
    rewritten."""
    docs = t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    media = as_media_table(docs.unionByName(batch))
    return (
        media.select(
            "media_id",
            F.md5("payload").alias("digest"),
            F.length("payload").cast("long").alias("n_bytes"),
        )
        .groupBy("digest")
        .agg(
            F.min("media_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            (F.min("n_bytes") * (F.count(F.lit(1)) - 1)).cast("long").alias("bytes_saved"),
        )
        .filter(F.col("n_copies") > 1)
        .select("digest", "keep_id", "n_copies", "bytes_saved")
        .orderBy("keep_id")
    )


@register(
    "x5_image_tiling_plan",
    oracle="""
    WITH img AS (
        SELECT doc_id AS media_id,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes
        FROM documents WHERE doc_id % 3 = 0
    ),
    dims AS (
        SELECT media_id,
               CAST(64 + (n_bytes % 512) AS BIGINT)        AS width,
               CAST(64 + ((n_bytes // 7) % 512) AS BIGINT) AS height
        FROM img
    ),
    gx AS (
        SELECT media_id, width, height,
               UNNEST(RANGE(0, CAST(CEIL(width / 224.0) AS BIGINT))) AS tx
        FROM dims
    ),
    g AS (
        SELECT media_id, width, height, tx,
               UNNEST(RANGE(0, CAST(CEIL(height / 224.0) AS BIGINT))) AS ty
        FROM gx
    ),
    tiles AS (
        SELECT media_id, width, height,
               LEAST(224, width - tx * 224)  AS tw,
               LEAST(224, height - ty * 224) AS th
        FROM g
    )
    SELECT media_id, width, height,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(SUM(CASE WHEN tw < 224 OR th < 224 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_partial,
           CAST(SUM(224 * 224 - tw * th) AS BIGINT) AS pad_px
    FROM tiles
    GROUP BY media_id, width, height
    ORDER BY media_id
    """,
    survey_ids=("X5",),
)
def x5_image_tiling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image tiling PLAN — the ViT-style patch grid: cover each image
    with 224x224 tiles (stride 224), clip edge tiles, and report per
    image the tile count, how many tiles are partial, and the padding
    waste a pad-to-full-tile loader would add. The 2-D grid is two
    chained scan-side explodes over sequence() (bounded: dims <= 575
    so <= 3x3 tiles); cropping pixels is the stubbed codec executor's
    job — the PLAN never touches payload bytes. Dims come from the
    metadata sidecar via the same arithmetic the stub codec applies
    (``_fake_decode``; the resize-plan precedent), pure JVM — no
    Python stage anywhere in this plan. Invariant (pinned in tests):
    n_tiles * 224^2 == width*height + pad_px. At 100 TB the explode is
    map-side over the pruned (media_id, width, height) projection; the
    only shuffle is the per-media aggregate, keyed on media_id
    (uniform, no skew)."""
    T = 224
    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "image"
    )
    nb = F.col("meta.n_bytes")
    dec = media.select(
        "media_id",
        (F.lit(64) + nb % 512).cast("long").alias("width"),
        (F.lit(64) + F.floor(nb / 7) % 512).cast("long").alias("height"),
    )
    nx = F.floor((F.col("width") + T - 1) / T).cast("long")
    ny = F.floor((F.col("height") + T - 1) / T).cast("long")
    tiles = (
        dec.withColumn("tx", F.explode(F.sequence(F.lit(0).cast("long"), nx - 1)))
        .withColumn("ty", F.explode(F.sequence(F.lit(0).cast("long"), ny - 1)))
        .select(
            "media_id",
            "width",
            "height",
            F.least(F.lit(T).cast("long"), F.col("width") - F.col("tx") * T).alias("tw"),
            F.least(F.lit(T).cast("long"), F.col("height") - F.col("ty") * T).alias("th"),
        )
    )
    return (
        tiles.groupBy("media_id", "width", "height")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tiles"),
            F.sum(
                F.when((F.col("tw") < T) | (F.col("th") < T), 1).otherwise(0)
            ).cast("long").alias("n_partial"),
            F.sum(F.lit(T * T) - F.col("tw") * F.col("th")).cast("long").alias("pad_px"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# WebDataset-style shard manifest — the multimodal export plan
# ---------------------------------------------------------------------------
SHARD_TARGET_BYTES = 8_192


@register(
    "x5_shard_manifest",
    oracle=f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes
        FROM documents
    ),
    tot AS (
        SELECT CAST(CEIL(SUM(n_bytes) * 1.0 / {SHARD_TARGET_BYTES}) AS BIGINT)
            AS n_shards
        FROM m
    ),
    slotted AS (
        SELECT media_id, media_type, n_bytes,
               CAST(
                   CAST(('0x' || SUBSTR(MD5('shard:' || CAST(media_id AS VARCHAR)),
                                        1, 8)) AS BIGINT)
                   % tot.n_shards AS BIGINT) AS shard_id
        FROM m, tot
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
           CAST(SUM(CASE WHEN media_type = 'image' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_image,
           CAST(SUM(CASE WHEN media_type = 'audio' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_audio,
           CAST(SUM(CASE WHEN media_type = 'video' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_video,
           CAST(MIN(media_id) AS BIGINT) AS first_media_id
    FROM slotted
    GROUP BY shard_id
    ORDER BY shard_id
    """,
    survey_ids=("X5", "A1"),
)
def x5_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style export shards for the media corpus: size the
    shard count from total payload bytes (two-pass: one SUM, then
    S = ⌈total/target⌉), assign every item to a shard by a
    DETERMINISTIC hash slot (md5 % S — layout-independent, so a
    re-run or a repartition never reshuffles items between shards,
    which would invalidate downstream sample-order bookkeeping), and
    emit the per-shard manifest (item/byte counts, modality mix,
    first id). Hash slotting is the distributed shard writer's shape —
    a running-total greedy fill would serialize on a global cumsum;
    hash slots land within a few percent of the target size at real
    corpus sizes and need ZERO coordination. The whole plan is one
    scalar aggregate + one map-combined groupBy; payload bytes are
    never read (metadata sidecar only)."""
    media = as_media_table(t(spark, sf_dir, "documents")).select(
        "media_id", "media_type", F.col("meta.n_bytes").alias("n_bytes")
    )
    tot = media.agg(
        F.ceil(F.sum("n_bytes") * 1.0 / SHARD_TARGET_BYTES)
        .cast("long")
        .alias("n_shards")
    )
    slot = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard:"), F.col("media_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.col("n_shards")
    ).cast("long")
    return (
        media.crossJoin(F.broadcast(tot))
        .withColumn("shard_id", slot)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("n_bytes").cast("long").alias("shard_bytes"),
            F.sum(F.when(F.col("media_type") == "image", 1).otherwise(0))
            .cast("long").alias("n_image"),
            F.sum(F.when(F.col("media_type") == "audio", 1).otherwise(0))
            .cast("long").alias("n_audio"),
            F.sum(F.when(F.col("media_type") == "video", 1).otherwise(0))
            .cast("long").alias("n_video"),
            F.min("media_id").cast("long").alias("first_media_id"),
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# round 12: AV segment alignment + cross-modal CLIP-style gate
# ---------------------------------------------------------------------------

#: Audio segment length for alignment (1-second segments).
AV_SEG_MS = 1000


@register(
    "x5_av_segment_alignment",
    oracle=f"""
    WITH vid AS (
        SELECT doc_id AS media_id,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes
        FROM documents
        WHERE doc_id % 3 = 2
    ),
    sized AS (
        SELECT media_id,
               1 + (n_bytes % 240) AS n_frames,
               CAST(CEIL((1 + (n_bytes % 240)) / 8.0) AS BIGINT) AS stride
        FROM vid
    ),
    frames AS (
        SELECT media_id,
               UNNEST(RANGE(0, n_frames, stride)) AS frame_idx,
               UNNEST(RANGE(0, n_frames, stride)) * 33 AS frame_ts_ms
        FROM sized
    ),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_emb FROM embeddings),
    aligned AS (
        SELECT f.media_id, f.frame_idx, f.frame_ts_ms,
               f.frame_ts_ms // {AV_SEG_MS} AS seg_no,
               (f.frame_ts_ms // {AV_SEG_MS}) * {AV_SEG_MS} AS seg_start_ms,
               (f.frame_ts_ms // {AV_SEG_MS} + 1) * {AV_SEG_MS} AS seg_end_ms,
               (f.media_id * 7 + f.frame_ts_ms // {AV_SEG_MS}) % ne.n_emb
                   AS vec_id
        FROM frames f CROSS JOIN ne
    )
    SELECT a.media_id, CAST(a.frame_idx AS BIGINT) AS frame_idx,
           CAST(a.frame_ts_ms AS BIGINT) AS frame_ts_ms,
           CAST(a.seg_no AS BIGINT) AS seg_no,
           CAST(a.seg_start_ms AS BIGINT) AS seg_start_ms,
           CAST(a.seg_end_ms AS BIGINT) AS seg_end_ms,
           a.vec_id, e.label,
           CAST(FLOOR(SQRT(LIST_DOT_PRODUCT(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * 1000000) AS BIGINT) AS seg_norm_e6
    FROM aligned a JOIN embeddings e ON e.vec_id = a.vec_id
    ORDER BY a.media_id, a.frame_idx
    """,
    survey_ids=("X5", "J7", "J1", "F6"),
)
def x5_av_segment_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/frame alignment plan: every sampled video frame (the
    `x5_frame_samples` stride policy) aligned to its covering 1-second
    audio segment, then joined to the segment's embedding row — the
    temporal-alignment step of any AV training pipeline (CLAP/AV-HuBERT
    style pairing).

    The frame-in-segment RANGE join never materializes as a range
    join: segments are fixed-width, so the covering segment is pure
    arithmetic (seg_no = ts div width) computed scan-side, turning the
    alignment into an EQUALITY join on the derived key — the same
    bucketed-band-join discipline as `j_theta_banded_bucketed`, except
    the band is degenerate (width divides the domain) so there is no
    candidate over-generation at all. The segment→embedding lookup is
    a keyed equi-join (deterministic fixture surrogate for the audio
    tower's output: vec_id = (media_id·7 + seg_no) mod |emb|); at
    100 TB both sides shuffle on vec_id once, or the embedding side
    broadcasts when it is a model-sized codebook. Payload bytes are
    never read — the plan runs on metadata alone, like every x5 plan
    (frame/segment DECODE is the stubbed codec step)."""
    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "video"
    )
    emb = t(spark, sf_dir, "embeddings")
    sized = media.select(
        "media_id",
        (F.lit(1) + F.col("meta.n_bytes") % 240).alias("n_frames"),
    ).withColumn("stride", F.ceil(F.col("n_frames") / 8.0).cast("long"))
    frames = sized.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.col("n_frames") - 1, F.col("stride")
            )
        ).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * 33)
    ne = emb.agg(F.count(F.lit(1)).cast("long").alias("n_emb"))
    seg = F.col("frame_ts_ms") - F.col("frame_ts_ms") % AV_SEG_MS
    aligned = frames.crossJoin(F.broadcast(ne)).select(
        "media_id",
        "frame_idx",
        "frame_ts_ms",
        F.expr(f"frame_ts_ms div {AV_SEG_MS}").alias("seg_no"),
        F.expr(f"(frame_ts_ms div {AV_SEG_MS}) * {AV_SEG_MS}").alias(
            "seg_start_ms"
        ),
        F.expr(f"(frame_ts_ms div {AV_SEG_MS} + 1) * {AV_SEG_MS}").alias(
            "seg_end_ms"
        ),
        F.expr(f"(media_id * 7 + frame_ts_ms div {AV_SEG_MS}) % n_emb").alias(
            "vec_id"
        ),
    )
    from etl_generator_demo_spark.operators.similarity import _as_double, _norm

    score = emb.select(
        "vec_id",
        "label",
        F.floor(_norm(_as_double("embedding")) * 1_000_000)
        .cast("long")
        .alias("seg_norm_e6"),
    )
    return (
        aligned.join(score, "vec_id")
        .select(
            "media_id",
            "frame_idx",
            "frame_ts_ms",
            "seg_no",
            "seg_start_ms",
            "seg_end_ms",
            "vec_id",
            "label",
            "seg_norm_e6",
        )
        .orderBy("media_id", "frame_idx")
    )


#: Cross-modal gate threshold (e6 cosine). 0 keeps the gate honest on
#: the fixture's uncorrelated towers: ~half the pairs pass.
X5_CLIP_TAU_E6 = 0
#: Hashing-trick text-tower dimensionality = the embedding dim.
X5_TXT_DIM = 64


@register(
    "x5_crossmodal_clip_gate",
    oracle=f"""
    WITH img AS (
        SELECT doc_id AS media_id, text
        FROM documents WHERE doc_id % 3 = 0
    ),
    tok AS (
        SELECT media_id, {_duck_tokens()} FROM img
    ),
    txt AS (
        SELECT media_id,
               CAST(('0x' || SUBSTR(MD5(tk), 1, 4)) AS BIGINT)
                   % {X5_TXT_DIM} AS dim,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM tok GROUP BY media_id, dim
    ),
    tn AS (
        SELECT media_id, CAST(SUM(w * w) AS BIGINT) AS nt2,
               CAST(COUNT(*) AS BIGINT) AS n_dims_hit
        FROM txt GROUP BY media_id
    ),
    iv AS (
        SELECT vec_id,
               GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim,
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
    scored AS (
        SELECT d.media_id, tn.n_dims_hit,
               CAST(FLOOR(d.dot6 * 1.0
                          / (SQRT(CAST(tn.nt2 AS DOUBLE))
                             * SQRT(CAST(inorm.ni2 AS DOUBLE)))
                          * 1000000) AS BIGINT) AS clip_cos6
        FROM dots d
        JOIN tn ON tn.media_id = d.media_id
        JOIN inorm ON inorm.vec_id = d.media_id
    )
    SELECT media_id, n_dims_hit, clip_cos6,
           CASE WHEN clip_cos6 >= {X5_CLIP_TAU_E6} THEN 'keep'
                ELSE 'drop' END AS gate
    FROM scored
    ORDER BY media_id
    """,
    survey_ids=("X5", "X3", "J1", "A1"),
)
def x5_crossmodal_clip_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-score-style cross-modal gate: cosine between each image's
    embedding (the image tower — here the embeddings fixture row keyed
    by media_id) and a hashing-trick bag-of-words text vector of its
    caption (the text tower — dim = md5(token) mod 64, weight = count;
    deterministic and SQL-expressible where a real tower is a model
    UDF). Pairs below τ are dropped — the standard web-scale
    image-caption filtering step (LAION-style).

    Exactness: image components floor to e6 integers FIRST, so the
    dot product and both squared norms are exact int64 sums —
    order-free under any partitioning — and the single double division
    + floor at the end is spelled identically in both engines. The
    sparse text side joins the exploded image side on (vec_id, dim):
    |doc|·|hit dims| rows, never a dense 64-wide shuffle. At 100 TB
    both towers key on media_id — one co-partitioned join chain, no
    broadcast needed when both sides are corpus-sized."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    emb = t(spark, sf_dir, "embeddings")
    tok = doc_tokens(docs, F.col("doc_id").alias("media_id"))
    txt = tok.groupBy(
        "media_id",
        (
            F.conv(F.substring(F.md5("tk"), 1, 4), 16, 10).cast("long")
            % X5_TXT_DIM
        ).alias("dim"),
    ).agg(F.count(F.lit(1)).cast("long").alias("w"))
    tn = txt.groupBy("media_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("nt2"),
        F.count(F.lit(1)).cast("long").alias("n_dims_hit"),
    )
    iv = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1_000_000).cast("long"),
            )
        ).alias("dim", "v6"),
    )
    inorm = iv.groupBy("vec_id").agg(
        F.sum(F.col("v6") * F.col("v6")).cast("long").alias("ni2")
    )
    dots = (
        txt.join(
            iv,
            (F.col("media_id") == F.col("vec_id"))
            & (txt["dim"] == iv["dim"]),
        )
        .groupBy("media_id")
        .agg(F.sum(F.col("w") * F.col("v6")).cast("long").alias("dot6"))
    )
    cos6 = F.expr(
        "CAST(FLOOR(dot6 * 1.0 / (SQRT(CAST(nt2 AS DOUBLE))"
        " * SQRT(CAST(ni2 AS DOUBLE))) * 1000000) AS LONG)"
    )
    return (
        dots.join(tn, "media_id")
        .join(inorm, F.col("media_id") == F.col("vec_id"))
        .select(
            "media_id",
            "n_dims_hit",
            cos6.alias("clip_cos6"),
        )
        .select(
            "media_id",
            "n_dims_hit",
            "clip_cos6",
            F.when(F.col("clip_cos6") >= X5_CLIP_TAU_E6, "keep")
            .otherwise("drop")
            .alias("gate"),
        )
        .orderBy("media_id")
    )


#: Target modality mixture for the balance audit (e6 shares — the
#: training recipe's declared image/audio/video budget split).
X5_TARGET_MIX_E6 = {"image": 400_000, "audio": 300_000, "video": 300_000}


@register(
    "x5_modality_balance_audit",
    oracle=f"""
    WITH m AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes
        FROM documents
    ),
    per AS (
        SELECT media_type,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
        FROM m GROUP BY media_type
    ),
    tot AS (
        SELECT CAST(SUM(n_items) AS BIGINT) AS n,
               CAST(SUM(total_bytes) AS BIGINT) AS tb
        FROM per
    ),
    tgt(media_type, target_e6) AS (VALUES
        {", ".join(f"('{k}', {v})" for k, v in X5_TARGET_MIX_E6.items())})
    SELECT p.media_type, p.n_items, p.total_bytes,
           CAST(p.total_bytes * 1000000 // t.tb AS BIGINT) AS byte_share_e6,
           CAST(g.target_e6 AS BIGINT) AS target_e6,
           CAST(CAST(g.target_e6 AS BIGINT) * 1000000
                // (p.total_bytes * 1000000 // t.tb) AS BIGINT)
               AS reweight_e6
    FROM per p CROSS JOIN tot t JOIN tgt g USING (media_type)
    ORDER BY p.media_type
    """,
    survey_ids=("X5", "A1", "F6"),
)
def x5_modality_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality mixture audit — the multimodal counterpart of the
    token-budget mixture: actual byte share per media type vs the
    training recipe's declared target, with the per-modality sampling
    reweight factor (target/actual, e6) a sampler applies to close the
    gap. Exact integer shares (bytes·1e6 div total); the reweight is
    an integer ratio of e6 shares, truncating identically in both
    engines. Plan: one metadata scan → |modalities|-bounded rollup —
    payload bytes never read (n_bytes is sidecar metadata), so at
    100 TB this audits the manifest, not the blobs."""
    media = as_media_table(t(spark, sf_dir, "documents"))
    per = media.groupBy("media_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("meta.n_bytes").cast("long").alias("total_bytes"),
    )
    tot = per.agg(F.sum("total_bytes").cast("long").alias("tb"))
    tgt = spark.createDataFrame(
        [(k, v) for k, v in X5_TARGET_MIX_E6.items()],
        "media_type string, target_e6 long",
    )
    share = F.expr("total_bytes * 1000000 div tb").cast("long")
    return (
        per.crossJoin(F.broadcast(tot))
        .join(F.broadcast(tgt), "media_type")
        .select(
            "media_type",
            "n_items",
            "total_bytes",
            share.alias("byte_share_e6"),
            "target_e6",
            F.expr(
                "target_e6 * 1000000 div (total_bytes * 1000000 div tb)"
            )
            .cast("long")
            .alias("reweight_e6"),
        )
        .orderBy("media_type")
    )


# ---------------------------------------------------------------------------
# perceptual-hash near-dup and scene cuts over frame embeddings
# ---------------------------------------------------------------------------

#: 64-bit pHash split into 4 bands of 16 bits (4 hex chars) — a
#: re-encode that moves <= PHASH_HAM_TAU bits leaves >= 1 band intact
#: whenever the flipped bits hit <= 3 bands, so banding recalls small
#: perturbations while random 64-bit pairs collide on a 16-bit band
#: with p = 4 * 2^-16.
PHASH_BANDS = 4
#: Exact-verify acceptance: Hamming distance <= 8 of 64 bits (random
#: pairs concentrate at 32).
PHASH_HAM_TAU = 8


def phash_relation(docs: DataFrame) -> DataFrame:
    """(media_id, phash) for the corpus PLUS a simulated re-encode
    batch: every 5th item re-keyed (+1_000_000) with its 64-bit
    fingerprint perturbed by exactly one bit (the low bit of nibble
    ``media_id % 16`` xor-flipped) — a re-encode/resize changes a few
    DCT coefficients, not the whole hash.

    The fingerprint itself is the md5 of the BINARY payload column (a
    deterministic stand-in; a real deployment swaps in a DCT pHash
    over decoded pixels via the :func:`decode_media` Pandas-UDF path
    and keeps every plan below unchanged). Spark md5(payload) and DuckDB MD5(text)
    hash the same utf-8 bytes — the `x5_payload_dedup` parity."""
    media = as_media_table(docs)
    orig = media.select(
        "media_id", F.substring(F.md5("payload"), 1, 16).alias("phash")
    )
    pos = (F.col("media_id") % 16 + 1).cast("int")
    flipped = F.lower(
        F.hex(F.conv(F.col("phash").substr(pos, F.lit(1)), 16, 10).cast("int").bitwiseXOR(1))
    )
    re_enc = orig.filter(F.col("media_id") % 5 == 0).select(
        (F.col("media_id") + 1_000_000).alias("media_id"),
        F.concat(
            F.col("phash").substr(F.lit(1), pos - 1),
            flipped,
            F.col("phash").substr(pos + 1, 16 - pos),
        ).alias("phash"),
    )
    return orig.unionByName(re_enc)


#: Oracle twin of :func:`phash_relation` and the banded Hamming verify:
#: CTE chain ending at ``ham(media_a, media_b, hamming)``.
_DUCK_PHASH_HAM = f"""orig AS (
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
    )"""


@register(
    "x5_phash_hamming_neardup",
    oracle=f"""
    WITH {_DUCK_PHASH_HAM}
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

    def nib(c):
        return F.conv(F.col(c).substr(F.col("p"), F.lit(1)), 16, 10).cast("int")

    ham = (
        cand.join(ph.select(F.col("media_id").alias("media_a"), F.col("phash").alias("ph_a")), "media_a")
        .join(ph.select(F.col("media_id").alias("media_b"), F.col("phash").alias("ph_b")), "media_b")
        .select("media_a", "media_b", F.explode(F.sequence(F.lit(1), F.lit(16))).alias("p"), "ph_a", "ph_b")
        .groupBy("media_a", "media_b")
        .agg(
            F.sum(
                F.bit_count(nib("ph_a").bitwiseXOR(nib("ph_b")))
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
        div(F.col("vec_id"), F.lit(CLIP_FRAMES)).alias("clip_id"),
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
# keyframe selection per scene segment
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
        div(F.col("vec_id"), F.lit(CLIP_FRAMES)).alias("clip_id"),
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
# media curation attrition (the composed X5 funnel)
# ---------------------------------------------------------------------------

def _media_attrition_oracle() -> str:
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
    {_DUCK_PHASH_HAM},
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
        SELECT media_id, {_duck_tokens()} FROM img
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
