"""Multimodal plumbing tests: schema, Arrow batch shape, stub decode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.multimodal import (
    CUT_TAU_E6,
    DECODED_SCHEMA,
    PHASH_HAM_TAU,
    as_media_table,
    decode_media,
    _fake_decode,
    phash_relation,
    x5_phash_hamming_neardup,
    x5_scene_cut_detection,
)


def test_media_schema_binary_payload(spark, sf_dir):
    from etl_generator_demo_spark.operators.relational import t

    media = as_media_table(t(spark, sf_dir, "documents"))
    dtypes = dict(media.dtypes)
    assert dtypes["payload"] == "binary"
    assert dtypes["media_type"] == "string"
    assert dtypes["meta"].startswith("struct<")
    row = media.first()
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["n_bytes"] == len(row["payload"])


def test_decode_media_deterministic_and_complete(spark, sf_dir):
    from etl_generator_demo_spark.operators.relational import t

    media = as_media_table(t(spark, sf_dir, "documents")).limit(50)
    out1 = {r["media_id"]: (r["width"], r["height"], r["n_frames"])
            for r in decode_media(media).collect()}
    out2 = {r["media_id"]: (r["width"], r["height"], r["n_frames"])
            for r in decode_media(media).collect()}
    assert out1 == out2 and len(out1) == 50
    assert decode_media(media).schema == DECODED_SCHEMA


def test_images_single_frame(spark, sf_dir):
    from etl_generator_demo_spark.operators.relational import t

    media = as_media_table(t(spark, sf_dir, "documents"))
    frames = (
        decode_media(media)
        .groupBy("media_type")
        .agg(F.max("n_frames").alias("mx"), F.min("n_frames").alias("mn"))
        .collect()
    )
    by_type = {r["media_type"]: (r["mn"], r["mx"]) for r in frames}
    assert by_type["image"] == (1, 1)       # images are one frame
    assert by_type["video"][1] > 1          # videos sample many


def test_fake_decode_contract():
    assert _fake_decode(b"abc", "image")[2] == 1
    with pytest.raises(NotImplementedError):
        _fake_decode(b"abc", "hologram")


def test_frame_sampling_policy_caps_and_covers(spark, sf_dir):
    """Every video yields 1..8 sampled frames, stride-uniform from 0,
    never exceeding n_frames-1."""
    from etl_generator_demo_spark.operators.multimodal import x5_frame_samples

    rows = x5_frame_samples(spark, sf_dir).collect()
    per_media: dict[int, list] = {}
    for r in rows:
        per_media.setdefault(r["media_id"], []).append(r)
    assert per_media
    for mid, frames in per_media.items():
        assert mid % 3 == 2  # videos only
        idxs = [f["frame_idx"] for f in frames]
        assert 1 <= len(idxs) <= 8
        assert idxs[0] == 0
        strides = {b - a for a, b in zip(idxs, idxs[1:])}
        assert len(strides) <= 1  # uniform
        for f in frames:
            assert f["frame_ts_ms"] == f["frame_idx"] * 33


def test_image_tiling_invariants(spark, sf_dir):
    """Tile accounting must be exact: the padded grid area equals the
    image area plus reported padding, partial tiles only on the
    right/bottom edge bands, and dims must match the stub decoder."""
    from etl_generator_demo_spark.operators.multimodal import x5_image_tiling_plan
    from etl_generator_demo_spark.operators.relational import t

    rows = x5_image_tiling_plan(spark, sf_dir).collect()
    assert rows, "no image rows"
    T = 224
    for r in rows:
        nx = -(-r["width"] // T)
        ny = -(-r["height"] // T)
        assert r["n_tiles"] == nx * ny
        assert r["n_tiles"] * T * T == r["width"] * r["height"] + r["pad_px"]
        # partial tiles = right column band + bottom row band (minus
        # double-counted corner) when the edge is ragged
        px = nx * (1 if r["height"] % T else 0) + ny * (1 if r["width"] % T else 0)
        if r["width"] % T and r["height"] % T:
            px -= 1
        assert r["n_partial"] == px
    # dims agree with the stub decoder output for the same media
    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "image"
    ).limit(20)
    dec = {r["media_id"]: (r["width"], r["height"]) for r in decode_media(media).collect()}
    got = {r["media_id"]: (r["width"], r["height"]) for r in rows if r["media_id"] in dec}
    assert got == dec


def _write_documents(spark, path, n):
    spark.createDataFrame(
        [(i, f"doc {i} body tok{i % 7} tok{i % 3}", "en", "srcT", 20) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_phash_finds_exactly_the_planted_reencodes(spark, tmp_path):
    """10 docs -> every 5th (ids 0 and 5) gets a re-encoded twin whose
    64-bit fingerprint differs by exactly ONE bit. The banded join +
    exact verify must return exactly those two pairs at hamming=1 —
    random md5 pairs sit at ~32 bits and nearly never share a 16-bit
    band, so anything else in the output is a bug."""
    _write_documents(spark, str(tmp_path), 10)
    got = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in x5_phash_hamming_neardup(spark, str(tmp_path)).collect()
    }
    assert got == {(0, 1_000_000): 1, (5, 1_000_005): 1}


def test_phash_perturbation_is_one_bit(spark, tmp_path):
    """The re-encode twin's fingerprint XORs exactly one bit (the low
    bit of nibble media_id % 16) — the precedence regression pin:
    Spark parses `v ^ 1 + 1` as `v ^ 2`, which silently turns the
    planted perturbation into a 2-bit flip."""
    _write_documents(spark, str(tmp_path), 10)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    ph = {r["media_id"]: r["phash"] for r in phash_relation(docs).collect()}
    for base in (0, 5):
        a, b = ph[base], ph[base + 1_000_000]
        diffs = [
            (i, ca, cb) for i, (ca, cb) in enumerate(zip(a, b)) if ca != cb
        ]
        assert len(diffs) == 1
        i, ca, cb = diffs[0]
        assert i == base % 16
        assert int(ca, 16) ^ int(cb, 16) == 1


def test_scene_cut_segments_planted_clip(spark, tmp_path):
    """Clip 0: frames [1,0],[1,0],[0,1],[0,1] -> adjacent cosines
    1.0, 0.0, 1.0 -> exactly one cut (0 < tau) -> two segments."""
    assert 0 < CUT_TAU_E6 < 1_000_000 and PHASH_HAM_TAU < 32
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 1),
        (3, [0.0, 1.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = x5_scene_cut_detection(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (
        r["clip_id"],
        r["n_transitions"],
        r["n_cuts"],
        r["n_segments"],
        r["min_cos_e6"],
        r["sum_cos_e6"],
    ) == (0, 3, 1, 2, 0, 2_000_000)


def test_keyframe_selection_planted_clip(spark, tmp_path):
    """Frames [1,0],[2,0],[0,1],[0,3]: cut only at frame 2 (cosine 0),
    so segments {0,1} and {2,3}; keyframes are the max-norm frames
    (1 with norm 4e6, 3 with norm 9e6)."""
    from etl_generator_demo_spark.operators.multimodal import (
        x5_keyframe_selection,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [2.0, 0.0], 0),
        (2, [0.0, 1.0], 1),
        (3, [0.0, 3.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = [
        (r["segment_id"], r["n_frames"], r["keyframe_idx"], r["key_norm_e6"])
        for r in x5_keyframe_selection(spark, str(tmp_path)).collect()
    ]
    assert got == [(0, 2, 1, 4_000_000), (1, 2, 3, 9_000_000)]


@pytest.mark.slow
def test_media_attrition_planted_funnel(spark, tmp_path):
    """10 docs -> +2 re-encodes (ids 0,5) +2 mirrors (ids 0,7): total
    14; mirrors die at exact dedup (12); re-encodes die at the pHash
    tier (10); with all-positive embeddings every scored image keeps
    (text-tower weights and image components both positive), so the
    CLIP gate drops nothing (10)."""
    from etl_generator_demo_spark.operators.multimodal import (
        x5_media_curation_attrition,
    )

    _write_documents(spark, str(tmp_path), 10)
    spark.createDataFrame(
        [(i, [0.5, 0.25], 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = [
        (r["stage_no"], r["n_items"])
        for r in x5_media_curation_attrition(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 14), (2, 12), (3, 10), (4, 10)]
