"""Stream-static route proximity: continuously-arriving geotagged
points matched against static polyline routes ("which route is this
image within d of") — the streaming twin of
operators/spatial_join.point_near_polyline_join.

Production shape at 100 TB ingestion: the routes' buffered coverings
(kernels.buffered_region distance-callback coverer) are a slim
broadcast table (line_id, cov_cell, level); each micro-batch
Arrow-encodes its points to leaf cells and runs the batch operator
itself — ``spatial_join.covering_join`` (ancestor terms at the covering
levels, broadcast equi-join) plus the exact vectorized
min-edge-distance refine.  The stream never shuffles, every batch does
O(batch x matching-cells) work, and the output is append-mode — no
unbounded state.

The covering table is built from a tiny driver-side frame — cheap to
recompute, so it is deliberately NOT checkpointed (localCheckpoint
blocks are non-reliable: losing the executor that held them would
kill a long-running stream that plain lineage recomputes for free).

Both forms are ``spatial_join.point_near_polyline_join`` over
leaf-encoded points — ONE plan, so the stream, the batch replay, and
the batch join operator cannot drift.  Batch twin
``batch_route_matches`` replays the same plan over the directory;
trigger=availableNow equality is asserted in
tests/test_route_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..operators import tile as T
from ..operators.spatial_join import point_near_polyline_join

# the documented ingestion contract: (key, x, y, z) direction rows.
# Declared, not inferred — a file-source stream must be startable
# BEFORE any producer has written a batch (an eager read of the empty
# directory cannot infer a schema and would fail the deployment order
# every streaming consumer uses).
POINT_SCHEMA = StructType(
    [
        StructField("key", LongType(), True),
        StructField("x", DoubleType(), True),
        StructField("y", DoubleType(), True),
        StructField("z", DoubleType(), True),
    ]
)


def _matches(
    spark: SparkSession, points: DataFrame, polylines: list, radius_rad: float
) -> DataFrame:
    """Shared stream/batch plan: leaf encode, then the batch join
    operator."""
    return point_near_polyline_join(
        spark, T.assign_cellids(points), polylines, radius_rad
    )


def streaming_route_matches(
    spark: SparkSession,
    pts_path: str,
    polylines: list,
    radius_rad: float,
    schema: StructType = POINT_SCHEMA,
) -> DataFrame:
    """Streaming DataFrame of (key, line_id) route-proximity matches
    for incoming points (append mode, stateless).  ``pts_path`` holds
    parquet batches of (key, x, y, z) direction rows; pass ``schema``
    if a producer writes extra columns."""
    stream = spark.readStream.schema(schema).parquet(pts_path)
    return _matches(spark, stream, polylines, radius_rad)


def batch_route_matches(
    spark: SparkSession,
    pts_path: str,
    polylines: list,
    radius_rad: float,
) -> DataFrame:
    """Batch replay twin of streaming_route_matches."""
    return _matches(spark, spark.read.parquet(pts_path), polylines, radius_rad)
