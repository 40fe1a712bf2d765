"""Stream-static near-duplicate IMAGE detection: continuously-arriving
images checked against a static corpus's perceptual-hash band index.

The multimodal twin of streaming/dedup_stream.py for an image
ingestion pipeline: the corpus side precomputes slim
(sid, band, val, hash) rows from the 64-bit perceptual hashes
(operators.image_dedup.band_rows — the SAME banding definition the
batch operator uses, lossless by pigeonhole for Hamming < n_bands);
each micro-batch derives the same band rows for its incoming images,
equi-joins (band, val) against the broadcast index, and verifies
candidates with the exact popcount.

A pair agreeing on several bands is kept only at its FIRST agreeing
band (operators.image_dedup.first_band_filter, computed from the two
hashes in hand) — a plain filter, so the stream keeps NO state: no
dropDuplicates state store, no watermark, append-mode output, and the
stream side never shuffles.

Batch twin ``batch_image_dup_matches`` replays the same plan over the
whole directory; trigger=availableNow equality + planted-duplicate
recall are asserted in tests/test_image_dedup_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.image_dedup import (
    DEFAULT_N_BANDS,
    band_rows,
    hamming_matches,
)

MAX_HAMMING = 3

# the ingestion contract: only the columns the dedup needs.  Declared,
# not inferred — the stream must be startable before any producer has
# written a batch; parquet projects a declared subset of a wider file.
IMG_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), True),
        StructField("phash", LongType(), True),
    ]
)


def static_phash_index(
    static_imgs: DataFrame, n_bands: int = DEFAULT_N_BANDS
) -> DataFrame:
    """Precompute the corpus side once: slim (sid, band, val, hash)."""
    return band_rows(static_imgs, "image_id", "sid", n_bands=n_bands)


def _matches(
    imgs: DataFrame, band_index: DataFrame, max_hamming: int,
    n_bands: int = DEFAULT_N_BANDS,
) -> DataFrame:
    # the index MUST be banded with the same n_bands: the query side is
    # re-banded here with ``n_bands``, and a mismatched slicing would
    # silently lose matches (different (band, val) keys), defeating the
    # pigeonhole guarantee — callers thread ONE n_bands through
    # static_phash_index and this function
    return hamming_matches(
        band_rows(imgs, "image_id", "image_id", n_bands=n_bands),
        F.broadcast(band_index),
        "image_id",
        "sid",
        F.col("image_id") != F.col("sid"),
        max_hamming,
        n_bands,
    )


def streaming_image_dup_matches(
    spark: SparkSession,
    imgs_path: str,
    static_imgs: DataFrame,
    max_hamming: int = MAX_HAMMING,
    n_bands: int = DEFAULT_N_BANDS,
    schema: StructType = IMG_SCHEMA,
) -> DataFrame:
    """Streaming DataFrame of (image_id, sid, hamming) matches of
    incoming images against the static corpus (append mode, stateless)."""
    stream = spark.readStream.schema(schema).parquet(imgs_path)
    bidx = static_phash_index(static_imgs, n_bands).localCheckpoint()
    return _matches(
        stream.select("image_id", "phash"), bidx, max_hamming, n_bands
    )


def batch_image_dup_matches(
    spark: SparkSession,
    imgs_path: str,
    static_imgs: DataFrame,
    max_hamming: int = MAX_HAMMING,
    n_bands: int = DEFAULT_N_BANDS,
) -> DataFrame:
    """Batch replay twin of streaming_image_dup_matches."""
    imgs = spark.read.parquet(imgs_path).select("image_id", "phash")
    return _matches(
        imgs, static_phash_index(static_imgs, n_bands), max_hamming, n_bands
    )
