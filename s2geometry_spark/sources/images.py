"""Deterministic synthetic image+caption table (BASELINE input_hint):

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long) + derived geotag (lat, lon)

Generated *distributed* (mapInPandas over spark.range) so any scale
can be produced without driver memory; every column is a pure function
of the row index, so re-generation is the oracle for payload
invariants (decoded pixels allclose / PSNR>=40dB, caption byte-equal,
phash unchanged) after any shuffle/join.

Geotags: 80% uniform-ish over the sphere, 20% clustered around 8
fixed hot spots (FIXTURES.md §1) to exercise hot cells in the
covering-term join.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..kernels import png as PNG

SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
    ]
)

HOTSPOTS = [  # (lat, lon) fixed urban-like centers for skew
    (40.71, -74.00), (51.51, -0.13), (35.68, 139.69), (-23.55, -46.63),
    (19.08, 72.88), (48.86, 2.35), (1.35, 103.82), (-33.87, 151.21),
]

_WORDS = (
    "granite harbor maple lantern orbit meadow cinder violet summit "
    "drift ember willow quarry beacon tundra mosaic"
).split()


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — deterministic per-row PRN."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return x ^ (x >> np.uint64(31))


def _rgb_of(i: int) -> tuple[int, int, str, "np.ndarray"]:
    """(w, h, fmt, rgb) for row index i — the pixel synthesis shared by
    row_record and the payload-free phash derivation."""
    seed = int(_mix64(np.array([i], dtype=np.uint64))[0])
    w = 16 + (seed % 49)
    h = 16 + ((seed >> 8) % 49)
    fmt = "png" if i % 4 else "jpeg"
    # deterministic pixels: splitmix64 stream over pixel indices
    n_px = w * h * 3
    stream = _mix64(
        np.arange(n_px, dtype=np.uint64) + np.uint64(seed)
    ).astype(np.uint64)
    rgb = (stream & np.uint64(0xFF)).astype(np.uint8).reshape(h, w, 3)
    return w, h, fmt, rgb


def phash_of_index(i: int) -> int:
    """The row's phash without encoding the payload (signed int64)."""
    _w, _h, _fmt, rgb = _rgb_of(i)
    return PNG.phash64(rgb.tobytes())


def row_record(i: int) -> dict:
    """All columns for row index i — the single source of truth used by
    both the distributed generator and the pytest payload oracle."""
    image_id = f"img{i:012d}"
    seed = int(_mix64(np.array([i], dtype=np.uint64))[0])
    w, h, fmt, rgb = _rgb_of(i)
    if fmt == "png":
        data = PNG.encode_png(rgb)
    else:
        data = PNG.encode_fake_jpeg(rgb)
    caption_words = [
        _WORDS[(seed >> (4 * k)) % len(_WORDS)] for k in range(6)
    ]
    caption = f"caption of {image_id}: " + " ".join(caption_words)
    phash = PNG.phash64(rgb.tobytes())
    # geotag: 20% clustered at hot spots (the shared derivation)
    lat_a, lon_a = geotags_of(np.array([i], dtype=np.uint64))
    lat, lon = float(lat_a[0]), float(lon_a[0])
    return {
        "image_id": image_id, "bytes": data, "w": w, "h": h, "fmt": fmt,
        "caption": caption, "phash": phash, "lat": lat, "lon": lon,
    }


def geotags_of(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (lat, lon) for absolute row indices ``ids`` — THE
    geotag derivation (same integer arithmetic, same IEEE divisions)
    shared by row_record, geotags(n), and the distributed geo_table
    generator, so the three can never drift apart."""
    g = _mix64(ids.astype(np.uint64) + np.uint64(1 << 40))
    hot = (g % np.uint64(5)) == 0
    hs = np.array(HOTSPOTS, dtype=np.float64)
    hs_idx = (g % np.uint64(len(HOTSPOTS))).astype(np.int64)
    lat_hot = hs[hs_idx, 0] + (
        ((g >> np.uint64(16)) % np.uint64(2001)).astype(np.float64) - 1000.0
    ) / 1000.0
    lon_hot = hs[hs_idx, 1] + (
        ((g >> np.uint64(32)) % np.uint64(2001)).astype(np.float64) - 1000.0
    ) / 1000.0
    lat_uni = ((g >> np.uint64(8)) % np.uint64(1798000)).astype(np.float64) / 10000.0 - 89.9
    lon_uni = ((g >> np.uint64(24)) % np.uint64(3600000)).astype(np.float64) / 10000.0 - 180.0
    return np.where(hot, lat_hot, lat_uni), np.where(hot, lon_hot, lon_uni)


def geotags(n: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) for rows 0..n-1 — the literal-oracle entry point of
    geotags_of, so the DuckDB correctness check recomputes cell ids
    independently from the same geotags."""
    return geotags_of(np.arange(n, dtype=np.uint64))


def pixel_sums(i: int) -> dict:
    """Integer pixel statistics of the *decoded* image for row i,
    computed straight from the generation formula (independent of the
    PNG/fake-jpeg codec): channel sums, gray-sum moments, edge-energy
    sums, and the phash round-trip check.  All values are exact ints,
    so a SQL oracle can reproduce the operator's float stats bitwise."""
    w, h, fmt, rgb = _rgb_of(i)  # the ONE shared pixel synthesis
    dec = rgb if fmt == "png" else (rgb & 0xFC)
    px = dec.astype(np.int64)
    s = px.sum(axis=2)
    return {
        "image_id": f"img{i:012d}",
        "w": w,
        "h": h,
        "fmt": fmt,
        "sr": int(px[:, :, 0].sum()),
        "sg": int(px[:, :, 1].sum()),
        "sb": int(px[:, :, 2].sum()),
        "s1": int(s.sum()),
        "s2": int((s * s).sum()),
        "eh": int(np.abs(np.diff(s, axis=1)).sum()) if w > 1 else 0,
        "ev": int(np.abs(np.diff(s, axis=0)).sum()) if h > 1 else 0,
        "phash_check": PNG.phash64(dec.tobytes()) == PNG.phash64(rgb.tobytes()),
    }


def image_table(spark: SparkSession, n: int, partitions: int = 0) -> DataFrame:
    """Distributed deterministic image table of n rows."""
    parts = partitions or max(4, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n, numPartitions=parts)

    def gen(batches):
        for pdf in batches:
            rows = [row_record(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return base.mapInPandas(gen, schema=SCHEMA)


GEO_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
    ]
)


def geo_table(spark: SparkSession, n: int, partitions: int = 0) -> DataFrame:
    """Geotag-only projection of the image table (bitwise-identical
    lat/lon, no payload synthesis) — the scan a tile-histogram or
    extent query would read after Parquet column pruning; the full
    generator cannot prune because every column is synthesized in one
    pass."""
    parts = partitions or max(4, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n, numPartitions=parts)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            # geotags_of is a pure function of the absolute row
            # index, so each distributed split derives exactly its own
            # ids (no whole-prefix recompute)
            lat, lon = geotags_of(ids)
            yield pd.DataFrame(
                {
                    "image_id": [f"img{int(i):012d}" for i in ids],
                    "lat": lat,
                    "lon": lon,
                }
            )

    return base.mapInPandas(gen, schema=GEO_SCHEMA)


def phash_table(spark: SparkSession, n: int, partitions: int = 0) -> DataFrame:
    """Payload-free (idx, phash) table — the perceptual-hash column of
    the image table without materializing bytes (same pixel synthesis,
    no codec), distributed over row-index ranges."""
    import pandas as pd
    from pyspark.sql import functions as F

    parts = partitions or max(8, (n + 2047) // 2048)

    def gen(batches):
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    "idx": idx,
                    "phash": np.array(
                        [phash_of_index(int(i)) for i in idx], dtype=np.int64
                    ),
                }
            )

    return (
        spark.range(0, n, numPartitions=parts)
        .mapInPandas(gen, schema="idx long, phash long")
    )
