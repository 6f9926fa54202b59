"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched pandas iterators.

The container has no image/audio codec libraries, so the decode kernels are
STUBS: `decode_media` raises NotImplementedError unless
``deterministic_fake=True``, in which case a seeded, content-derived fake
"decode" runs so the Spark-side plumbing (schema, partitioning, mapInPandas
batch shape) is real and testable end-to-end.

Scale design: media bytes never leave their partition (mapInPandas is
shuffle-free); metadata-only queries prune the binary column at the parquet
scan (columnar → reading `media_meta` never touches `media_bytes`).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_streaming_pipeline_spark.sources.tables import keep

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("media_bytes", T.BinaryType(), True),
        T.StructField(
            "media_meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("content_type", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

DECODE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)


def synthesize_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake media table from the documents table: text bytes
    become the payload; metadata derived from doc stats. Exercises the
    binary-column schema without codec libs."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("media_bytes"),
        F.struct(
            (F.col("n_chars") % 1920).cast("int").alias("width"),
            (F.col("n_chars") % 1080).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") % 300).cast("int").alias("n_frames"),
            F.concat(F.lit("x-fake/"), kind).alias("content_type"),
        ).alias("media_meta"),
    )


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Content-derived deterministic pseudo-embedding (stands in for a real
    decoder+encoder; replace with the real kernel when codecs exist)."""
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "big") % (2**32)
    return np.random.default_rng(seed).standard_normal(dim).astype(np.float32)


def decode_media(media: DataFrame, deterministic_fake: bool = False) -> DataFrame:
    """Decode/feature-extract media payloads via mapInPandas.

    Real decoding requires codec libraries not present in this container —
    NotImplementedError marks the integration point. The fake path keeps
    the exact same Spark plan, schema, and Arrow batch shape.
    """
    if not deterministic_fake:
        raise NotImplementedError(
            "media decoding requires codec libraries (PIL/librosa/av) not "
            "available in this environment; pass deterministic_fake=True "
            "for the plumbing-test path"
        )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(b) if b is not None else b"" for b in pdf["media_bytes"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in payloads],
                    "content_hash": [hashlib.sha256(p).hexdigest() for p in payloads],
                    "features": [_fake_features(p).tolist() for p in payloads],
                }
            )

    return media.mapInPandas(_decode, DECODE_OUTPUT_SCHEMA)


RESIZE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("src_width", T.IntegerType(), True),
        T.StructField("src_height", T.IntegerType(), True),
        T.StructField("dst_width", T.IntegerType(), False),
        T.StructField("dst_height", T.IntegerType(), False),
        T.StructField("resized_hash", T.StringType(), False),
    ]
)


def resize_media(
    media: DataFrame, max_side: int = 256, deterministic_fake: bool = False
) -> DataFrame:
    """Resize plumbing for image rows: aspect-preserving target dims from
    typed metadata (JVM-side arithmetic), then the pixel kernel per Arrow
    batch. The real kernel needs codec libs — NotImplementedError marks
    the integration point; the fake path hashes (payload, target dims) so
    the output is content-addressed and the full plan/schema/batch shape
    is testable. Bytes stay partition-local; nothing shuffles."""
    if not deterministic_fake:
        raise NotImplementedError(
            "image resizing requires codec libraries (PIL/cv2) not available "
            "in this environment; pass deterministic_fake=True for the "
            "plumbing-test path"
        )
    w = F.coalesce(F.col("media_meta.width"), F.lit(0))
    h = F.coalesce(F.col("media_meta.height"), F.lit(0))
    scale = F.lit(max_side) / F.greatest(w, h, F.lit(1))
    capped = F.least(scale, F.lit(1.0))  # never upscale
    prepared = media.filter(F.col("kind") == "image").select(
        "media_id",
        "media_bytes",
        w.alias("src_width"),
        h.alias("src_height"),
        F.greatest((w * capped).cast("int"), F.lit(1)).alias("dst_width"),
        F.greatest((h * capped).cast("int"), F.lit(1)).alias("dst_height"),
    )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for payload, dw, dh in zip(pdf["media_bytes"], pdf["dst_width"], pdf["dst_height"]):
                p = bytes(payload) if payload is not None else b""
                hashes.append(hashlib.sha256(p + f"|{dw}x{dh}".encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "src_width": pdf["src_width"],
                    "src_height": pdf["src_height"],
                    "dst_width": pdf["dst_width"],
                    "dst_height": pdf["dst_height"],
                    "resized_hash": hashes,
                }
            )

    return prepared.mapInPandas(_resize, RESIZE_OUTPUT_SCHEMA)


def chunk_audio(
    media: DataFrame, chunk_seconds: int = 5, samples_per_chunk: int | None = None
) -> DataFrame:
    """Chunking plan for audio rows: fixed-duration windows derived from
    metadata (sample_rate × payload size → duration), each chunk a
    (media_id, chunk_idx, start_sample, n_samples) row. The byte-slicing
    kernel belongs to the decode stub; this computes the partition-local
    chunk layout JVM-side (assumes 16-bit mono for the synthetic table)."""
    sr = F.coalesce(F.col("media_meta.sample_rate"), F.lit(16000))
    n_samples = (F.length(F.col("media_bytes")) / 2).cast("long")
    if samples_per_chunk is not None:
        chunk_len = F.lit(samples_per_chunk).cast("long")
    else:
        chunk_len = (sr * chunk_seconds).cast("long")
    n_chunks = F.ceil(n_samples / chunk_len).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    return (
        media.filter(F.col("kind") == "audio")
        .select(
            "media_id",
            n_samples.alias("_total"),
            chunk_len.alias("_chunk"),
            F.explode(idx).alias("chunk_idx"),
        )
        .select(
            "media_id",
            "chunk_idx",
            (F.col("chunk_idx") * F.col("_chunk")).alias("start_sample"),
            F.least(
                F.col("_chunk"), F.col("_total") - F.col("chunk_idx") * F.col("_chunk")
            ).alias("n_samples"),
        )
    )


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: explode sampled frame indices
    from metadata (real frame extraction = the decode stub's job)."""
    frames = F.sequence(
        F.lit(0),
        F.greatest(F.coalesce(F.col("media_meta.n_frames"), F.lit(0)) - 1, F.lit(0)),
        F.lit(every_n),
    )
    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", F.explode(frames).alias("frame_idx"))
    )


PHASH_GRID = 32  # pseudo-image side; 32x32 -> 8x8 block means -> 64 bits
PHASH_BANDS = [(0, 12), (12, 12), (24, 12), (36, 12), (48, 16)]  # shift, width


def _payload_pixels(payload: bytes, grid: int = PHASH_GRID) -> np.ndarray:
    """Fixed-size pseudo-image from raw payload bytes: proportional
    low-pass (moving average over 1/64 of the payload — the smoothing
    scale tracks payload length, which is what makes the raster roughly
    stretch-invariant) then linear resample onto a grid² raster. Stands in
    for a codec decode: near-identical payloads yield near-identical
    rasters, so the DCT hash below behaves perceptually."""
    arr = np.frombuffer(payload if payload else b"\x00", dtype=np.uint8)
    arr = arr.astype(np.float64)
    w = max(1, arr.size // 64)
    if w > 1:
        arr = np.convolve(arr, np.ones(w) / w, mode="same")
    xs = np.linspace(0.0, max(arr.size - 1, 0), grid * grid)
    return np.interp(xs, np.arange(arr.size), arr).reshape(grid, grid)


_DCT_BASIS = np.array(
    [np.cos(np.pi * (np.arange(PHASH_GRID) + 0.5) * u / PHASH_GRID) for u in range(8)]
)


def _phash64(payload: bytes) -> int:
    """64-bit perceptual hash, canonical pHash construction: 2-D DCT-II of
    the raster, keep the 8x8 low-frequency corner, drop the DC term, and
    threshold the remaining 63 coefficients at their median (bit 63 stays
    0). Low frequencies are stable under small spatial perturbation, which
    is the entire robustness argument. Packed little-endian into a signed
    int64 (uint64 bit pattern reinterpreted, same convention as simhash64).

    Robust class on byte rasters: exact duplicates hash identically and
    same-length in-place edits stay within a few bits; length-changing
    edits shift the resample grid and land in the 8+ bit range (caught by
    text-level dedup instead); unrelated payloads measure ~12-32 bits
    apart (no corpus false positives at threshold 4)."""
    img = _payload_pixels(payload)
    coef = _DCT_BASIS @ img @ _DCT_BASIS.T
    flat = coef.flatten()[1:]
    bits = flat > np.median(flat)
    val = np.uint64(0)
    for i in range(63):
        if bits[i]:
            val |= np.uint64(1) << np.uint64(i)
    return int(val.astype(np.int64))


def perceptual_hash(media: DataFrame, deterministic_fake: bool = False) -> DataFrame:
    """Per-media 64-bit perceptual hash (DCT pHash) via mapInPandas — the
    image-dedup primitive. The HASH itself is the real kernel (2-D DCT
    low-frequency thresholding); what needs codec libraries is turning
    container bytes into pixels, so like ``decode_media`` the real-decode
    path raises and the deterministic-fake path rasterizes the payload
    bytes directly."""
    if not deterministic_fake:
        raise NotImplementedError(
            "pixel decode requires codec libraries (PIL/av) not available "
            "in this environment; pass deterministic_fake=True for the "
            "payload-raster path"
        )

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # rasters are built per payload (variable length), but the DCT /
        # threshold / bit-pack runs BATCHED across the whole Arrow batch —
        # one einsum instead of thousands of 8x32 matmuls (bit-identical
        # to _phash64, pinned in tests/test_multimodal_phash.py)
        powers = np.uint64(1) << np.arange(63, dtype=np.uint64)
        for pdf in batches:
            payloads = [bytes(b) if b is not None else b"" for b in pdf["media_bytes"]]
            imgs = np.stack([_payload_pixels(p) for p in payloads])
            coef = np.einsum("ui,nij,vj->nuv", _DCT_BASIS, imgs, _DCT_BASIS)
            flat = coef.reshape(len(payloads), 64)[:, 1:]
            bits = flat > np.median(flat, axis=1, keepdims=True)
            vals = (bits.astype(np.uint64) * powers).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "phash": vals.view(np.int64),
                }
            )

    return media.mapInPandas(_hash, "media_id long, kind string, phash long")


def phash_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 4,
    deterministic_fake: bool = False,
) -> DataFrame:
    """Near-duplicate media pairs by perceptual hash: band the 64 bits
    into 5 blocks (any pair within Hamming ≤4 shares ≥1 unchanged block —
    pigeonhole), equi-join per block on the JVM, verify with exact
    bit_count(xor). Identical shape to the simhash text path
    (operators/dedup.py:simhash_near_dup_pairs): candidates scale with
    true collisions, never all pairs."""
    ph = keep(perceptual_hash(media, deterministic_fake=deterministic_fake))
    blocks = ph.select(
        F.col("media_id").alias("_id"),
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftright(F.col("phash"), shift)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for i, (shift, width) in enumerate(PHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("_id", "phash", F.col("bk.block").alias("block"), F.col("bk.key").alias("key"))
    cand = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
