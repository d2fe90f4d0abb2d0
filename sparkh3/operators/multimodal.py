"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

The decode step is STUBBED (no image/audio libraries in this container):
``decode_image`` raises NotImplementedError unless a decoder is
installed, and ``fake_features`` provides a deterministic stand-in so the
Spark-side plumbing — schema, batch iteration, partitioning — is real and
tested end-to-end.
"""

from __future__ import annotations

from typing import Iterator

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

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def synthesize_media(df: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """Build a deterministic media table from media_ref URIs: the payload
    is a seeded byte pattern (stands in for real blobs; fixed seed).
    `kind` derives from the ref's trailing integer (engine-portable
    arithmetic, so the DuckDB oracle reproduces it exactly)."""
    num = F.regexp_extract(F.col(ref_col), r"(\d+)$", 1).cast("long")
    return df.select(
        F.col(ref_col).alias("media_id"),
        F.when(num % 3 == 0, "image")
        .when(num % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.to_binary(F.sha2(F.col(ref_col), 256), F.lit("hex")).alias("payload"),
        (F.crc32(F.col(ref_col)) % 1920 + 16).cast("int").alias("width"),
        (F.crc32(F.col(ref_col)) % 1080 + 16).cast("int").alias("height"),
        (F.crc32(F.col(ref_col)) % 60000).cast("long").alias("duration_ms"),
    )


def decode_image(payload: bytes):
    """Real decoder hook — gated on an optional dependency. With pillow
    installed, decodes the payload and returns (width, height, mode);
    tests/test_raster_streaming.py exercises it end-to-end (through the
    extract_features Arrow boundary) wherever the dependency exists and
    skips cleanly where it does not."""
    try:
        from PIL import Image
    except ImportError as e:  # pragma: no cover - no decoder in container
        raise NotImplementedError(
            "image decoding requires pillow; install it on the cluster "
            "image. The Spark plumbing (schema/batching) works without it "
            "via fake_features()."
        ) from e
    import io

    with Image.open(io.BytesIO(payload)) as im:
        im.load()
        return (im.width, im.height, im.mode)


def fake_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature vector from the first 64 payload
    bytes (FNV-1a fold; the cap bounds cost on huge blobs)."""
    out = []
    acc = 2166136261
    # slice, don't break-after-update: the old `if i >= 64: break`
    # consumed a 65th byte, so any faithful 64-byte reimplementation
    # diverged on longer payloads
    for b in (payload or b"\x00")[:64]:
        acc = (acc ^ b) * 16777619 & 0xFFFFFFFF
    for d in range(dim):
        acc = (acc * 1103515245 + 12345 + d) & 0x7FFFFFFF
        out.append(acc / 0x7FFFFFFF)
    return out


def extract_features(df: DataFrame, dim: int = 8, feature_fn=None) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches — the real
    100 TB shape: one Python worker pass, batch-at-a-time, narrow.
    ``feature_fn(payload) -> list[float]`` plugs in a real decoder
    (e.g. one built on :func:`decode_image`); the default stays the
    deterministic dependency-free :func:`fake_features`."""
    feat = feature_fn or (lambda p: fake_features(p, dim))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                    "feature": pdf["payload"].map(feat),
                }
            )

    return df.mapInPandas(fn, FEATURE_SCHEMA)


def phash_neardup_join(
    df: DataFrame,
    fp_col: str = "phash",
    id_col: str = "media_id",
    max_distance: int = 4,
    bits: int = 62,
) -> DataFrame:
    """Perceptual-hash near-duplicate self-join: all unordered pairs
    whose integer fingerprints differ in <= ``max_distance`` of the low
    ``bits`` bits — the media-dedup counterpart of text MinHash. EXACT
    by the pigeonhole banding argument: the fingerprint splits into
    ``max_distance + 1`` disjoint bit-bands, and hamming(a, b) <= t
    forces at least one band to match bit-for-bit, so candidates come
    from an equi-join on (band_idx, band_value) — never a cross
    product — and the bit_count(xor) verify keeps only true pairs.
    Returns (id_a, id_b, hamming).

    Unlike textops.simhash_neardup (whose xxhash64 bit votes are not
    reproducible outside the JVM), this operator is pure integer bit
    algebra end to end, so with an engine-portable fingerprint (the
    real pHash of a decoded image, or any agreed arithmetic) every pair
    — and every rejected pair — reproduces exactly in the SQL oracle.
    At scale the shuffle carries (id, band) rows only; fan-out per band
    bucket follows fingerprint collisions, not corpus size."""
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    if not 1 <= bits <= 62:
        # bit 63 is the sign; staying <= 62 keeps every band mask and
        # xor in non-negative signed-long territory in any engine
        raise ValueError(f"bits must be in [1, 62], got {bits}")
    n_bands = max_distance + 1
    if bits < n_bands:
        raise ValueError(f"need bits >= max_distance + 1 = {n_bands}")
    # mask to the declared width so stray high bits can neither create
    # phantom hamming distance nor poison a band value
    fp = F.col(fp_col).cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    w = bits // n_bands
    bands = []
    for i in range(n_bands):
        lo = i * w
        width = bits - lo if i == n_bands - 1 else w
        bands.append(
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(fp, lo)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
        )
    flat = df.select(
        F.col(id_col).alias("_id"),
        fp.alias("_fp"),
        F.explode(F.array(*bands)).alias("_b"),
    ).select("_id", "_fp", F.col("_b.band").alias("_band"), F.col("_b.val").alias("_val"))
    cand = (
        flat.alias("a")
        .join(flat.alias("b"), ["_band", "_val"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(
                F.col("a._fp").bitwiseXOR(F.col("b._fp"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_distance)
