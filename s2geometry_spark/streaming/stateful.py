"""Custom stateful streaming: per-tile unique-user counting with a
HyperLogLog sketch kept in group state.

Demonstrates the applyInPandasWithState surface (the engine's custom
stateful-operator extension point, SURVEY.md §2.10): per micro-batch,
each tile group folds its users into a 256-register HLL held in state
and emits the running estimate.  At 10^12 scale the state per tile is
256 bytes regardless of cardinality — the reason to sketch instead of
storing user sets.

The sketch is deterministic (splitmix64 hash), so replays from
checkpoints produce identical registers.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .tile_stream import EVENT_SCHEMA, event_tiles

HLL_P = 8  # 2^8 registers; relative error ~= 1.04/sqrt(256) = 6.5%
HLL_M = 1 << HLL_P


def _mix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return x ^ (x >> np.uint64(31))


def hll_add(registers: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Fold int64 values into uint8 registers (vectorized)."""
    h = _mix64(values.astype(np.uint64))
    idx = (h >> np.uint64(64 - HLL_P)).astype(np.int64)
    rest = (h << np.uint64(HLL_P)) | np.uint64(1 << (HLL_P - 1))
    # rank = leading zeros of `rest` + 1 (bounded by 64-P+1)
    lz = np.zeros(len(h), dtype=np.uint8)
    cur = rest.copy()
    top = np.uint64(1) << np.uint64(63)
    alive = np.ones(len(h), dtype=bool)
    for _ in range(64 - HLL_P + 1):
        zero_top = alive & ((cur & top) == 0)
        lz[zero_top] += 1
        alive &= zero_top
        if not alive.any():
            break
        cur = (cur << np.uint64(1)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    rank = lz + 1
    out = registers.copy()
    np.maximum.at(out, idx, rank)
    return out


def hll_estimate(registers: np.ndarray) -> float:
    """Standard HLL estimator with small-range correction."""
    m = float(HLL_M)
    alpha = 0.7182725932495458  # alpha_256 = 0.7213/(1+1.079/256)
    inv = np.power(2.0, -registers.astype(np.float64))
    raw = alpha * m * m / inv.sum()
    zeros = int((registers == 0).sum())
    if raw <= 2.5 * m and zeros:
        return m * float(np.log(m / zeros))
    return float(raw)


OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("tile_id", T.LongType(), False),
        T.StructField("approx_uniques", T.DoubleType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("registers", T.BinaryType(), True),
        T.StructField("n_events", T.LongType(), True),
    ]
)


def _update(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
    (tile_id,) = key
    if state.exists:
        regs_bytes, n_events = state.get
        registers = np.frombuffer(regs_bytes, dtype=np.uint8).copy()
    else:
        registers = np.zeros(HLL_M, dtype=np.uint8)
        n_events = 0
    for pdf in pdf_iter:
        registers = hll_add(registers, pdf["user_id"].to_numpy(np.int64))
        n_events += len(pdf)
    state.update((registers.tobytes(), n_events))
    yield pd.DataFrame(
        [
            {
                "tile_id": int(tile_id),
                "approx_uniques": hll_estimate(registers),
                "n_events": int(n_events),
            }
        ]
    )


def streaming_tile_uniques(
    spark, events_path: str, tile_level: int = 4
) -> DataFrame:
    """readStream -> per-tile running approximate unique users via HLL
    group state."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(events_path)
    tiled = event_tiles(stream, tile_level)
    return (
        tiled.select("tile_id", F.col("key").alias("user_id"))
        .groupBy("tile_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="Update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def batch_tile_uniques(spark, events_path: str, tile_level: int = 4):
    """Batch twin: exact distinct + the same HLL fold for comparison."""
    tiled = event_tiles(spark.read.parquet(events_path), tile_level)
    return tiled.groupBy("tile_id").agg(
        F.countDistinct("key").alias("exact_uniques"),
        F.count(F.lit(1)).alias("n_events"),
    )
