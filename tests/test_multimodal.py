"""Multimodal plumbing: schemas, Arrow batch iteration, deterministic
codec, frame-index explosion, loud failure without a real codec."""

import pytest
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.operators.multimodal import (
    DECODED_IMAGE_SCHEMA,
    FEATURE_SCHEMA,
    FakeCodec,
    MEDIA_SCHEMA,
    RealCodec,
    decode_metadata,
    extract_features,
    pack_fake_media,
    resize_media,
    sample_frames,
    set_codec,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", "fake", pack_fake_media(640, 480, 3, b"a" * 100)),
        (2, "image", "fake", pack_fake_media(32, 32, 1, b"b" * 10)),
        (3, "image", "fake", pack_fake_media(1920, 1080, 3, b"c" * 500)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_metadata(media):
    out = decode_metadata(media)
    assert out.schema == DECODED_IMAGE_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["width"] == 640 and rows[1]["height"] == 480
    assert rows[2]["channels"] == 1
    assert rows[3]["n_bytes"] == 500


def test_extract_features_deterministic(media):
    out = extract_features(media, dim=16)
    assert out.schema == FEATURE_SCHEMA
    a = {r["media_id"]: tuple(r["feature"]) for r in out.collect()}
    b = {r["media_id"]: tuple(r["feature"]) for r in extract_features(media, dim=16).collect()}
    assert a == b                      # deterministic across runs
    assert all(len(v) == 16 for v in a.values())
    assert all(0.0 <= x < 1.0 for v in a.values() for x in v)
    assert a[1] != a[2]                # distinct payloads → distinct vectors


def test_resize_preserves_schema_and_rewrites_dims(media):
    out = resize_media(media, 224, 224)
    assert out.schema == MEDIA_SCHEMA
    meta = {r["media_id"]: r for r in decode_metadata(out).collect()}
    assert all(m["width"] == 224 and m["height"] == 224 for m in meta.values())
    assert meta[2]["channels"] == 1    # channels survive resize


def test_sample_frames_explodes_only_sampled_indexes(spark):
    rows = [(1, "video", "fake", pack_fake_media(64, 64, 3, b"v" * 50), 25)]
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(MEDIA_SCHEMA.fields + [StructField("n_frames", IntegerType())])
    video = spark.createDataFrame(rows, schema)
    out = sample_frames(video, every_n=10).collect()
    assert [r["frame_idx"] for r in out] == [0, 10, 20]
    assert len({bytes(r["frame_data"]) for r in out}) == 3  # per-frame distinct


def test_sample_frames_guards_empty_and_null_frame_counts(spark):
    # n_frames = 0 would make sequence(0, -1, +10) throw; NULL would too.
    # Both must yield zero rows for that media, not a runtime error.
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(MEDIA_SCHEMA.fields + [StructField("n_frames", IntegerType())])
    rows = [
        (1, "video", "fake", pack_fake_media(8, 8, 3, b"a"), 0),
        (2, "video", "fake", pack_fake_media(8, 8, 3, b"b"), None),
        (3, "video", "fake", pack_fake_media(8, 8, 3, b"c"), 11),
    ]
    video = spark.createDataFrame(rows, schema)
    out = sample_frames(video, every_n=10).collect()
    assert sorted((r["media_id"], r["frame_idx"]) for r in out) == [(3, 0), (3, 10)]


def test_real_codec_raises_loudly(media):
    # executor-side CodecUnavailableError surfaces driver-side as a
    # PythonException carrying the original message
    from pyspark.errors.exceptions.captured import PythonException

    set_codec(RealCodec())
    try:
        with pytest.raises(PythonException, match="no image/audio library"):
            decode_metadata(media).collect()
    finally:
        set_codec(FakeCodec())


def test_batch_iteration_handles_many_small_batches(spark):
    # bound Arrow batches to 7 rows → the mapInPandas loop must iterate;
    # row count and ids must survive exactly
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [(i, "image", "fake", pack_fake_media(8, 8, 3, bytes([i % 256]) * 4)) for i in range(100)]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(2)
        out = decode_metadata(media)
        assert out.count() == 100
        assert sorted(r["media_id"] for r in out.collect()) == list(range(100))
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_payload_fingerprint_is_dims_invariant(spark):
    """Same payload packed at different dims → same fingerprint; the
    digest covers only content, and equals hashlib md5 of the payload."""
    import hashlib

    from udacity_dend_capstone_immigration_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        pack_fake_media,
        payload_fingerprints,
    )

    rows = [
        (1, "image", "fake", pack_fake_media(640, 480, 3, b"same-bytes")),
        (2, "image", "fake", pack_fake_media(32, 32, 1, b"same-bytes")),
        (3, "image", "fake", pack_fake_media(640, 480, 3, b"other")),
    ]
    m = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r.fingerprint for r in payload_fingerprints(m).collect()}
    assert out[1] == out[2] == hashlib.md5(b"same-bytes").hexdigest()
    assert out[3] == hashlib.md5(b"other").hexdigest()
    assert out[3] != out[1]


def test_real_codec_content_digest_raises(media):
    from udacity_dend_capstone_immigration_spark.operators.multimodal import (
        CodecUnavailableError,
        RealCodec,
        payload_fingerprints,
        set_codec,
    )

    set_codec(RealCodec())
    try:
        with pytest.raises(Exception) as e:
            payload_fingerprints(media).collect()
        assert "CodecUnavailable" in str(e.value) or "no image/audio" in str(e.value)
    finally:
        set_codec(FakeCodec())

