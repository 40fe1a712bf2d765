"""Near-duplicate image detection via perceptual-hash banding.

LLM-pipeline operator over the image axis: two images are near-dups
when their 64-bit perceptual hashes differ in at most `max_hamming`
bits.  Candidate generation is band-LSH by pigeonhole: split the hash
into `n_bands` disjoint bit bands — any pair within Hamming distance
d < n_bands agrees exactly on >= 1 band — and equi-join on
(band, band_value).  The refine is an exact popcount of the xor.

A pair that agrees on several bands would surface once per agreeing
band; instead of a dedup exchange, each joined row keeps only the
FIRST agreeing band, computed stateless from the two hashes in hand
(first_band_filter) — so the dedup is a plain filter, not a shuffle
(and on the streaming path, not an unbounded state store).

Everything is JVM bit arithmetic (shiftrightunsigned / xor /
bit_count): no Python in the row path, and the only shuffle is the
band equi-join keyed on 16-bit band values — fine-grained, no
group-id skew.  The oracle is a brute-force all-pairs SQL Hamming
join, so a candidate the banding misses fails the correctness gate
outright (banding with d < n_bands is lossless, unlike probabilistic
minhash LSH).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .banded_join import first_agreeing_band

DEFAULT_N_BANDS = 4


def band_rows(
    df: DataFrame,
    id_col: str,
    id_alias: str,
    hash_col: str = "phash",
    n_bands: int = DEFAULT_N_BANDS,
) -> DataFrame:
    """(id_alias, {id_alias}_hash, band, val) rows — one per hash band.
    The single banding definition shared by the batch operator and the
    streaming corpus index (a drifted second copy would silently break
    the pigeonhole losslessness)."""
    if 64 % n_bands != 0:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col(hash_col), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(n_bands)
            ]
        )
    ).alias("bv")
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(hash_col).alias(f"{id_alias}_hash"),
        bands,
    ).select(id_alias, f"{id_alias}_hash", "bv.band", "bv.val")


def first_band_filter(
    a_hash: Column, b_hash: Column, n_bands: int = DEFAULT_N_BANDS
) -> Column:
    """Band index of the FIRST band on which the two hashes agree
    (stateless dedup: keep a joined row only where its band equals
    this).  Computed from the xor of the hashes in hand."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    x = a_hash.bitwiseXOR(b_hash)
    return first_agreeing_band(
        lambda b: F.shiftrightunsigned(x, b * width).bitwiseAND(F.lit(mask))
        == 0,
        n_bands,
    )


def hamming_matches(
    left: DataFrame,
    right: DataFrame,
    a: str,
    b: str,
    distinct: Column,
    max_hamming: int,
    n_bands: int = DEFAULT_N_BANDS,
) -> DataFrame:
    """(a, b, hamming) for the band_rows frames ``left`` (ids ``a``)
    and ``right`` (ids ``b``), both banded with ``n_bands``: the
    (band, val) equi-join, the caller's ``distinct`` id condition, the
    first-agreeing-band filter and the exact popcount refine."""
    # a loud error, not an assert: python -O would strip an assert and
    # silently lose recall for pairs disagreeing on every band
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole recall needs max_hamming < n_bands "
            f"({max_hamming} >= {n_bands}): raise n_bands or lower "
            f"max_hamming"
        )
    ham = F.bit_count(
        F.col(f"{a}_hash").bitwiseXOR(F.col(f"{b}_hash"))
    ).cast("int")
    return (
        left.join(right, ["band", "val"])
        .where(distinct)
        .where(
            F.col("band")
            == first_band_filter(
                F.col(f"{a}_hash"), F.col(f"{b}_hash"), n_bands
            )
        )
        .select(a, b, ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def phash_near_dup(
    hashes: DataFrame,
    max_hamming: int = 3,
    n_bands: int = DEFAULT_N_BANDS,
    id_col: str = "idx",
    hash_col: str = "phash",
) -> DataFrame:
    """hashes(id, phash) -> (a_id, b_id, hamming) for all pairs with
    Hamming(phash_a, phash_b) <= max_hamming (a_id < b_id)."""
    return hamming_matches(
        band_rows(hashes, id_col, "a_id", hash_col, n_bands),
        band_rows(hashes, id_col, "b_id", hash_col, n_bands),
        "a_id",
        "b_id",
        F.col("a_id") < F.col("b_id"),
        max_hamming,
        n_bands,
    )
