"""Multimodal pipeline queries for the driver harness.

No media table ships in the testdata, so these queries *construct* media
blobs deterministically from ``documents`` (pack the utf-8 text as the
payload of the FAKE packed format) and then run the real binary-column
pipeline — mapInPandas decode over Arrow batches. Because pack→decode
round-trips exactly, the DuckDB oracle can compute the expected metadata
straight from the source columns without ever touching bytes.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.operators.multimodal import decode_metadata
from udacity_dend_capstone_immigration_spark.workload.base import query, table


def documents_as_media(docs):
    """documents → (media_id, kind, fmt, data) with FAKE-packed payloads.

    Dims derive from stable columns: width = n_chars % 1000 + 1,
    height = (doc_id * 7) % 500 + 1, channels = 3. Packing is native
    (concat of binary literals + int encodings) — no Python in this step.
    """
    width = (F.col("n_chars") % 1000 + 1).cast("int")
    height = ((F.col("doc_id") * 7) % 500 + 1).cast("int")

    # little-endian 4-byte int as binary, built natively: reverse the
    # big-endian hex encoding pairwise via unhex(concat of swapped pairs)
    def le32(c):
        hexs = F.lpad(F.hex(c), 8, "0")
        return F.unhex(
            F.concat(
                F.substring(hexs, 7, 2),
                F.substring(hexs, 5, 2),
                F.substring(hexs, 3, 2),
                F.substring(hexs, 1, 2),
            )
        )

    data = F.concat(
        F.lit(b"FAKE"),
        le32(width),
        le32(height),
        le32(F.lit(3)),
        F.encode(F.col("text"), "utf-8"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("fake").alias("fmt"),
        data.alias("data"),
    )


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(n_chars % 1000 + 1 AS INT) AS width,
           CAST((doc_id * 7) % 500 + 1 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_decode(spark, sf_dir):
    """Pack → Arrow-batched mapInPandas decode → typed metadata. The
    oracle recomputes the metadata from source columns, so the binary
    round-trip (including utf-8 byte lengths) is verified value-exact."""
    docs = table(spark, sf_dir, "documents")
    return decode_metadata(documents_as_media(docs))


@query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(224 AS INT) AS width,
           CAST(224 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(16 AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_resize(spark, sf_dir):
    """resize → decode round-trip: every blob re-packed to 224×224 (the
    fake codec replaces the payload with its 16-byte digest — so
    n_bytes = 16 proves the payload was actually rewritten, not passed
    through). Two chained mapInPandas stages in ONE Python worker pass —
    no shuffle between resize and decode, media bytes never leave the
    map side. Exact resized bytes are unit-tested
    (tests/test_multimodal.py); the oracle verifies the full pipeline's
    metadata value-exactly."""
    from udacity_dend_capstone_immigration_spark.operators.multimodal import resize_media

    docs = table(spark, sf_dir, "documents")
    return decode_metadata(resize_media(documents_as_media(docs), 224, 224))


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(u.i AS INT) AS frame_idx,
           CAST(16 AS BIGINT) AS frame_bytes
    FROM documents,
         UNNEST(generate_series(0, CAST(doc_id % 30 AS BIGINT), 10)) AS u(i)
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling: n_frames = doc_id % 30 + 1, every 10th
    frame. Sampled frame INDEXES explode natively (int rows); only those
    frames decode in the Python stage. The oracle verifies the sampling
    lattice (media_id × frame_idx) value-exactly; frame payloads are
    surfaced as their byte length (digest bytes are unit-tested — DuckDB
    cannot md5 arbitrary binary, VARCHAR only)."""
    from udacity_dend_capstone_immigration_spark.operators.multimodal import sample_frames

    docs = table(spark, sf_dir, "documents")
    media = documents_as_media(docs).withColumn(
        "n_frames", (F.col("media_id") % 30 + 1).cast("int")
    )
    frames = sample_frames(media, every_n=10)
    return frames.select(
        "media_id",
        "frame_idx",
        F.octet_length("frame_data").cast("bigint").alias("frame_bytes"),
    )


def native_feature_chain(data_col, dim: int):
    """Recompute FakeCodec.feature entirely JVM-side: Spark's ``md5``
    accepts BINARY, so the digest chain (seed = md5(seed), four LE
    uint32 / 2^32 floats per digest) is expressible with md5/unhex/
    substring/conv — no Python. Returns ``array<float>``.

    Exists so the driver query below can bit-compare the Arrow
    ``mapInPandas`` path against an independent whole-stage-codegen
    recomputation of the same math.
    """
    exprs = []
    seed = data_col
    for _ in range((dim + 3) // 4):
        hexs = F.md5(seed)  # 32 lowercase hex chars
        seed = F.unhex(hexs)
        for i in range(4):
            # bytes 4i..4i+3 little-endian → reverse the hex pairs
            le_hex = F.concat(
                F.substring(hexs, i * 8 + 7, 2),
                F.substring(hexs, i * 8 + 5, 2),
                F.substring(hexs, i * 8 + 3, 2),
                F.substring(hexs, i * 8 + 1, 2),
            )
            exprs.append(
                (F.conv(le_hex, 16, 10).cast("bigint") / F.lit(2.0**32)).cast(
                    "float"
                )
            )
    return F.array(*exprs[:dim])


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8 AS INT) AS feature_dim,
           CAST(TRUE AS BOOLEAN) AS matches_native
    FROM documents
    """,
)
def multimodal_features(spark, sf_dir):
    """binary → 8-dim pseudo-embedding (md5-chained floats) via the
    Arrow ``mapInPandas`` codec path, verified value-exactly: the same
    chain is recomputed JVM-side (:func:`native_feature_chain`) and the
    emitted ``matches_native`` flag is the element-wise float equality
    of the two vectors. DuckDB's md5 is VARCHAR-only so it cannot run
    the chain over binary blobs — instead the oracle asserts the flag
    is literally TRUE for every document, which the value hash enforces.
    Exact feature values are additionally unit-tested
    (tests/test_multimodal.py). Scalar output columns only — the
    ``array<float>`` stays inside the query (the driver canonicalizer
    cannot sort list cells); API users get arrays from
    :func:`~udacity_dend_capstone_immigration_spark.operators.multimodal.extract_features`
    directly. Feature rows are compact (id + 8 floats): the shuffle
    after extraction carries vectors, never media bytes."""
    from udacity_dend_capstone_immigration_spark.operators.multimodal import extract_features

    media = documents_as_media(table(spark, sf_dir, "documents"))
    feats = extract_features(media, dim=8)
    native = media.select(
        "media_id", native_feature_chain(F.col("data"), 8).alias("native_feature")
    )
    return feats.join(native, "media_id").select(
        "media_id",
        F.size("feature").cast("int").alias("feature_dim"),
        (F.col("feature") == F.col("native_feature")).alias("matches_native"),
    )


# --- binary-column exact dedup: content-digest the payload (header
# stripped — a repack that only changes dims is the SAME content) and
# hash-groupBy the 32-char digests; media bytes never shuffle. The
# corpus has no naturally-identical texts, so duplicate groups are
# constructed BY DESIGN: every doc_id % 10 == 0 document is re-packed
# a second time at different dims (new media_id, same payload) —
# proving both the dedup and the dims-invariance of the fingerprint.
@query(
    "multimodal_payload_dedup",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100001, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(text) AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(media_id) AS keep_media_id
    FROM m GROUP BY md5(text) HAVING COUNT(*) >= 2
    """,
)
def multimodal_payload_dedup(spark, sf_dir):
    """The oracle hashes the source text (the payload IS the utf-8
    text); the Spark side digests the packed BYTES through the codec
    boundary, so a match proves pack → content_digest produces exactly
    the payload hash regardless of header dims."""
    from udacity_dend_capstone_immigration_spark.operators.multimodal import (
        payload_fingerprints,
    )

    docs = table(spark, sf_dir, "documents")
    # +100001, not +100000: (100000*7)%500 == 0, so a +100000 offset
    # would leave the copy's derived height EQUAL to the original's and
    # dims-invariance would ride on width alone (r10 ADVICE); the odd
    # offset perturbs height by 7 mod 500 for every copy
    copies = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100001).alias("doc_id"),
        "text",
        F.lit(223).alias("n_chars"),  # width = 224 after the %1000+1 derive
    )
    media = documents_as_media(docs).unionByName(documents_as_media(copies))
    return (
        payload_fingerprints(media)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("media_id").alias("keep_media_id"),
        )
        .where(F.col("n_copies") >= 2)
    )

