"""Multimodal (image/audio/video) columns: opaque ``binary`` payloads +
typed metadata, processed with Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schemas, partitioning, UDF signatures, batch
iteration — is real and tested. The codec layer is pluggable: this
container ships no image/audio libraries, so the default codec is a
deterministic packed format (``FAKE`` header, below) that exercises the
full path end-to-end; hooking Pillow/torchaudio in is a codec swap, not
a pipeline change (``set_codec``). Calling a real-media operation
without a real codec raises ``CodecUnavailableError`` — loudly, not with
garbage output.

Scale notes: media bytes are the heaviest column in any training
pipeline. Every operator here projects the binary column as late as
possible, processes it in Arrow record batches (bounded memory:
``spark.sql.execution.arrow.maxRecordsPerBatch``), and returns compact
features — so the shuffle after feature extraction carries vectors, not
media. Frame sampling explodes ONLY sampled frame indexes, never full
decoded frames.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical media-table schema: payload is opaque; everything queryable
#: lives in typed metadata columns.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("fmt", StringType()),
        StructField("data", BinaryType()),
    ]
)

DECODED_IMAGE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_data", BinaryType()),
    ]
)


class CodecUnavailableError(NotImplementedError):
    """A real media codec was requested but no library is installed."""


# ---------------------------------------------------------------- codec

_MAGIC = b"FAKE"


def pack_fake_media(width: int, height: int, channels: int, payload: bytes) -> bytes:
    """Deterministic packed media blob: 4-byte magic + 3 dims + payload.

    Stands in for JPEG/WAV/MP4 so the decode path is real parsing over
    real bytes, reproducible in any environment.
    """
    return _MAGIC + struct.pack("<III", width, height, channels) + payload


class FakeCodec:
    """Parses the packed format above; the default (and only bundled) codec."""

    name = "fake"

    def decode(self, data: bytes) -> dict:
        if data[:4] != _MAGIC:
            raise ValueError("not a FAKE-packed media blob")
        width, height, channels = struct.unpack("<III", data[4:16])
        return {
            "width": width,
            "height": height,
            "channels": channels,
            "n_bytes": len(data) - 16,
        }

    def feature(self, data: bytes, dim: int) -> list[float]:
        """Deterministic pseudo-embedding: md5-chained floats in [0, 1)."""
        out: list[float] = []
        seed = data
        while len(out) < dim:
            seed = hashlib.md5(seed).digest()
            out.extend(
                int.from_bytes(seed[i : i + 4], "little") / 2**32
                for i in range(0, 16, 4)
            )
        return out[:dim]

    def resize(self, data: bytes, width: int, height: int) -> bytes:
        meta = self.decode(data)
        payload = hashlib.md5(data).digest()
        return pack_fake_media(width, height, meta["channels"], payload)

    def frame(self, data: bytes, idx: int) -> bytes:
        return hashlib.md5(data + struct.pack("<I", idx)).digest()

    def content_digest(self, data: bytes) -> str:
        """md5 of the CONTENT (payload after the 16-byte header) — the
        exact-dup fingerprint, invariant to repacks that change only
        dims. A real codec would hash decoded samples the same way."""
        self.decode(data)  # validates the container
        return hashlib.md5(data[16:]).hexdigest()


class RealCodec:
    """Placeholder for a Pillow/av-backed codec. Every method raises
    :class:`CodecUnavailableError` until the libraries exist in the
    runtime — the pipeline shape does not change when they do."""

    name = "real"

    def _unavailable(self, *_a, **_k):
        raise CodecUnavailableError(
            "no image/audio library in this runtime; install one and "
            "register a codec via set_codec()"
        )

    decode = feature = resize = frame = content_digest = _unavailable


_CODEC = FakeCodec()


def set_codec(codec) -> None:
    """Swap the module-level codec (e.g. for a Pillow-backed one)."""
    global _CODEC
    _CODEC = codec


# ------------------------------------------------------------ operators


def decode_metadata(media: DataFrame) -> DataFrame:
    """binary → typed metadata via Arrow-batched mapInPandas.

    Input needs (media_id, data); output is DECODED_IMAGE_SCHEMA. The
    batch loop never materializes more than one Arrow batch of media
    bytes per task.
    """
    codec = _CODEC

    def run(batches: Iterator[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            metas = [codec.decode(bytes(b)) for b in pdf["data"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "channels": [m["channels"] for m in metas],
                    "n_bytes": [m["n_bytes"] for m in metas],
                }
            )

    return media.select("media_id", "data").mapInPandas(run, DECODED_IMAGE_SCHEMA)


def payload_fingerprints(media: DataFrame) -> DataFrame:
    """binary → (media_id, fingerprint): the codec's content digest in
    one Arrow stage. Downstream dedup shuffles 32-char hashes, never
    media bytes — the binary-column twin of text exact-dedup."""
    codec = _CODEC

    def run(batches: Iterator[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "fingerprint": [codec.content_digest(bytes(b)) for b in pdf["data"]],
                }
            )

    return media.select("media_id", "data").mapInPandas(
        run, "media_id long, fingerprint string"
    )


def extract_features(media: DataFrame, dim: int = 64) -> DataFrame:
    """binary → fixed-width float feature vector (pseudo-embedding under
    the fake codec; a model forward pass under a real one). Output rows
    are compact — downstream similarity joins shuffle vectors, not media."""
    codec = _CODEC

    def run(batches: Iterator[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "feature": [codec.feature(bytes(b), dim) for b in pdf["data"]],
                }
            )

    return media.select("media_id", "data").mapInPandas(run, FEATURE_SCHEMA)


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """binary → resized binary, preserving the media-table schema."""
    codec = _CODEC

    def run(batches: Iterator[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["data"] = [codec.resize(bytes(b), width, height) for b in pdf["data"]]
            yield out

    return media.mapInPandas(run, media.schema)


def sample_frames(media: DataFrame, every_n: int = 10, n_frames_col: str = "n_frames") -> DataFrame:
    """Video frame sampling: explode sampled frame INDEXES natively
    (cheap int rows), then decode only those frames in one mapInPandas
    pass — never the full frame set."""
    codec = _CODEC
    # sequence(0, -1, +step) THROWS (F.sequence with a positive step
    # requires start <= stop) — guard n_frames < 1 / NULL to an empty
    # index array, same rule as functions/text.py:_index_range
    safe_seq = F.when(
        F.col(n_frames_col) >= 1,
        F.sequence(F.lit(0), F.col(n_frames_col) - 1, F.lit(every_n)),
    ).otherwise(F.array().cast("array<int>"))
    idx = media.select(
        "media_id",
        "data",
        F.explode(safe_seq).alias("frame_idx"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "frame_idx": pdf["frame_idx"].values,
                    "frame_data": [
                        codec.frame(bytes(b), int(i))
                        for b, i in zip(pdf["data"], pdf["frame_idx"])
                    ],
                }
            )

    return idx.mapInPandas(run, FRAME_SCHEMA)

