"""Stream-static near-duplicate detection: continuously-arriving
documents checked against a static corpus's LSH band index.

The production shape for training-data ingestion at 100 TB: the
corpus's slim (doc_id, band, key) rows are a precomputed broadcast
index (or a bucketed table at larger corpus sizes); each micro-batch
computes the SAME band rows for its incoming documents (shared plan
fragment ``textops.doc_band_rows``), equi-joins on (band, key), and
verifies candidates with exact shingle Jaccard — so the stream never
shuffles, every batch does O(batch x matching-buckets) work, and the
output is append-mode (no unbounded state).

Two structural rules keep that promise true:

- the incoming documents are derived ONCE (band rows carry both the
  concatenated band keys and the shingle array through a single
  projection chain) — re-deriving shingles from the stream and joining
  them back would be a stream-stream self-join, which Structured
  Streaming plans as a symmetric hash join with state retained forever
  on both sides;
- a pair that agrees on several bands is kept only at its FIRST
  agreeing band (the pigeonhole filter shared with
  ``textops.near_dup_pairs`` and the image twin), so each (doc, dup)
  match emits exactly once and the Jaccard refine runs once per pair.

Batch twin ``batch_near_dup_matches`` replays the same plan over the
whole directory; trigger=availableNow equality is asserted in
tests/test_dedup_stream.py (the replayability property).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators import textops as TX
from ..operators.banded_join import first_match_band

NEAR_DUP_TAU = 0.5

# the ingestion contract: only the columns the dedup needs.  Declared,
# not inferred — a file-source stream must be startable BEFORE any
# producer has written a batch, and parquet happily projects a
# declared subset of a wider file schema.
DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
    ]
)


def static_band_index(static_docs: DataFrame) -> DataFrame:
    """Precompute the corpus side once: slim (sid, allb_s, b, bk) band
    rows (``allb_s`` = concatenated band keys, for the
    first-agreeing-band pigeonhole on the join)."""
    return TX.doc_band_rows(static_docs, with_allb=True).select(
        F.col("doc_id").alias("sid"),
        F.col("allb").alias("allb_s"),
        "b",
        "bk",
    )


def static_shingles(static_docs: DataFrame) -> DataFrame:
    return TX.doc_shingles(static_docs).select(
        F.col("doc_id").alias("sid"), F.col("shingles").alias("sh_s")
    )


def _matches(
    docs: DataFrame,
    band_index: DataFrame,
    shingle_index: DataFrame,
    tau: float,
) -> DataFrame:
    """Shared stream/batch plan: band rows (with shingles carried in
    the same projection) -> (b, bk) equi-join against the static index
    -> first-agreeing-band pigeonhole -> exact Jaccard refine against
    the static shingle table.  Every join is stream-static."""
    bands = TX.doc_band_rows(docs, with_allb=True, with_shingles=True)
    first_b = first_match_band(
        F.col("allb"), F.col("allb_s"), TX.LSH_BANDS, 32
    )
    cand = (
        bands.join(F.broadcast(band_index), ["b", "bk"])
        .where(F.col("doc_id") != F.col("sid"))
        .where(F.col("b") == first_b)
        .select("doc_id", "sid", "shingles")
    )
    pairs = cand.join(F.broadcast(shingle_index), on="sid")
    return (
        pairs.withColumn(
            "jaccard", TX.jaccard(F.col("shingles"), F.col("sh_s"))
        )
        .where(F.col("jaccard") >= F.lit(tau))
        .select("doc_id", F.col("sid").alias("dup_of"), "jaccard")
    )


def streaming_near_dup_matches(
    spark: SparkSession,
    docs_path: str,
    static_docs: DataFrame,
    tau: float = NEAR_DUP_TAU,
    schema: StructType = DOC_SCHEMA,
) -> DataFrame:
    """Streaming DataFrame of (doc_id, dup_of, jaccard) matches of
    incoming documents against the static corpus (append mode — every
    join is stream-static inner, so no state is kept)."""
    stream = spark.readStream.schema(schema).parquet(docs_path)
    bidx = static_band_index(static_docs).localCheckpoint()
    sidx = static_shingles(static_docs).localCheckpoint()
    return _matches(
        stream.select("doc_id", "text"), bidx, sidx, tau
    )


def batch_near_dup_matches(
    spark: SparkSession,
    docs_path: str,
    static_docs: DataFrame,
    tau: float = NEAR_DUP_TAU,
) -> DataFrame:
    """Batch replay twin of streaming_near_dup_matches."""
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    return _matches(
        docs,
        static_band_index(static_docs),
        static_shingles(static_docs),
        tau,
    )
