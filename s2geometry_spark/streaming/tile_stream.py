"""Structured Streaming tile pipeline.

The reference is batch-only (SURVEY.md §2.10) — this is the engine's
own streaming surface for continuously-arriving geotagged events:

    file/parquet stream -> derive direction vector -> Arrow pUDF leaf
    cell encode -> JVM tile parent -> watermarked event-time window ->
    per-(window, tile) counts

The aggregation is the streaming twin of operators.tile.tile_counts;
with trigger=availableNow over a static directory it produces exactly
the batch result (asserted in tests), which is the replayability
property a backfill at 100 TB relies on.  State size is bounded by
(windows in watermark horizon) x (active tiles), not event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StructField, StructType, TimestampNTZType,
)

from ..functions import sparkfns as S
from ..functions import udfs as U
from ..sources import points as P


# the ingestion contract: only the columns the tile pipeline needs.
# Declared, not inferred — the stream must be startable before any
# producer has written a batch; parquet projects a declared subset of
# a wider file schema (events also carry event_type/value/props).
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampNTZType(), True),
        StructField("user_id", LongType(), True),
    ]
)


def _event_points(df: DataFrame) -> DataFrame:
    """Derive the deterministic direction vector from user_id (same
    integer scheme as sources.points — oracle-compatible)."""
    # parquet TIMESTAMP_NTZ is not a valid watermark type; pin to TIMESTAMP
    return P.with_xyz(
        df.select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("user_id").alias("key"),
        )
    )


def event_tiles(df: DataFrame, tile_level: int) -> DataFrame:
    pts = _event_points(df)
    cells = pts.withColumn(
        "cell_id", U.xyz_to_cellid(F.col("x"), F.col("y"), F.col("z"))
    )
    return cells.withColumn(
        "tile_id", S.cell_parent(F.col("cell_id"), tile_level)
    )


def _window_counts(df: DataFrame, window: str, key: str) -> DataFrame:
    """Per-(event-time window, ``key``) counts as
    (win_start, win_end, tile_id, n): region counts share the tile
    counts' sink shape."""
    return (
        df.groupBy(F.window("ts", window).alias("win"), key)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            F.col(key).alias("tile_id"),
            "n",
        )
    )


def streaming_tile_counts(
    spark: SparkSession,
    events_path: str,
    tile_level: int = 6,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """readStream -> windowed per-tile counts (append-capable with
    watermark; late rows beyond the horizon are dropped)."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(events_path)
    tiled = event_tiles(stream, tile_level)
    return _window_counts(
        tiled.withWatermark("ts", watermark), window, "tile_id"
    )


def batch_tile_counts(
    spark: SparkSession,
    events_path: str,
    tile_level: int = 6,
    window: str = "1 hour",
) -> DataFrame:
    """Batch twin of streaming_tile_counts (replay oracle)."""
    tiled = event_tiles(spark.read.parquet(events_path), tile_level)
    return _window_counts(tiled, window, "tile_id")


def run_available_now(query_df: DataFrame, name: str, checkpoint: str):
    """Drain all available input with availableNow and return the
    in-memory sink table name."""
    q = (
        query_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


def _region_joined(
    spark: SparkSession, df: DataFrame, caps: list, tile_level: int
) -> DataFrame:
    """Shared plan: event points -> ``spatial_join.point_in_cap_join``
    (covering-term stream-static broadcast join, exact chord refine)
    -> (ts, region_id).  The event timestamp rides through the join as
    the carried point-key column."""
    from ..operators import spatial_join as SJ

    return SJ.point_in_cap_join(
        spark, event_tiles(df, tile_level), caps, point_key="ts"
    )


def streaming_region_counts(
    spark: SparkSession,
    events_path: str,
    caps: list,
    tile_level: int = 6,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming spatial join: event stream -> covering-term broadcast
    join against region caps (a stream-static join: the covering is
    broadcast under Spark's threshold, so the stream never shuffles)
    -> exact chord refine -> watermarked windowed counts per region.
    The streaming twin of operators.spatial_join.point_in_cap_join +
    count."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(events_path)
    pairs = _region_joined(spark, stream, caps, tile_level)
    return _window_counts(
        pairs.withWatermark("ts", watermark), window, "region_id"
    )


def batch_region_counts(
    spark: SparkSession,
    events_path: str,
    caps: list,
    tile_level: int = 6,
    window: str = "1 hour",
) -> DataFrame:
    """Batch twin of streaming_region_counts (replay oracle)."""
    pairs = _region_joined(
        spark, spark.read.parquet(events_path), caps, tile_level
    )
    return _window_counts(pairs, window, "region_id")
