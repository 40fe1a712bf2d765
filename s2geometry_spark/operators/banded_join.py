"""The skew-aware banded LSH self-join behind every near-duplicate
family: minhash text (``textops.near_dup_pairs``) and sign-LSH
embeddings (``similarity.ann_lsh_topk`` / ``embed_near_dup``).

Its one size-driven decision — partitioned join for cold buckets,
replicated partner-group join only when some bucket is hot ("To
Partition, or Not to Partition", SIGMOD 2021) — lives here alone, with
the first-agreeing-band fold that the streaming text dedup and the
image phash join (``image_dedup.first_band_filter``) also use.  Both
branches sit in one lazy plan; Spark's adaptive execution drops the
replicated one at run time when no bucket is hot.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HOT_BUCKET = 64  # band-bucket size above which salting engages
SALT_G = 8       # partner groups a hot bucket's pairs spread over

HOT_IMBALANCE_FACTOR = 1.5  # salt only above this multiple of the
# ideal per-reducer pair work (TP/P): replication has real overhead
# (extra rows through the shuffle, and a non-empty hot branch defeats
# AQE's empty-subtree pruning), so a bucket barely above the balanced
# share is cheaper to leave on one reducer than to split.  1.5 keeps
# the sf1 soak's largest bucket (1.2x the ideal share on an otherwise
# uniform table) on the unsalted plan while every genuinely dominant
# block (boilerplate clusters measure >= 2x) salts.


def first_agreeing_band(
    agrees: Callable[[int], Column], n_bands: int
) -> Column:
    """Index of the FIRST band b in [0, n_bands) for which
    ``agrees(b)`` holds (``n_bands`` when none does).  Keeping a joined
    row only where its band equals this makes every pair emit exactly
    once — a per-row filter evaluated in the joining task instead of a
    full pair-volume dropDuplicates shuffle."""
    first = F.lit(n_bands)  # sentinel: unreachable for joined rows
    for b in range(n_bands - 1, -1, -1):
        first = F.when(agrees(b), F.lit(b)).otherwise(first)
    return first


def first_match_band(
    a_allb: Column, c_allb: Column, n_bands: int, width: int
) -> Column:
    """``first_agreeing_band`` over two concatenated band-key strings
    (each band key is ``width`` chars)."""
    return first_agreeing_band(
        lambda b: F.substring(a_allb, b * width + 1, width)
        == F.substring(c_allb, b * width + 1, width),
        n_bands,
    )


def shuffle_partitions(df: DataFrame) -> int:
    """The session's shuffle-partition count, with a sane fallback for
    'auto'/unset — shared by ``hot_buckets`` and the hot branch so the
    reducer-share math and the explicit-count repartition pins stay
    consistent."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200


def hot_buckets(slim: DataFrame, hot_bucket_threshold: int) -> DataFrame:
    """(b, bk) of the band buckets that would straggle a reducer in
    the candidate self-join: big in absolute terms
    (``n > hot_bucket_threshold``) AND with pair volume n^2 above
    ``HOT_IMBALANCE_FACTOR`` x the mean per-reducer share of the total
    pair work (sum of n_i^2 / shuffle partitions — the balanced share a
    reducer would carry).  The relative condition keeps uniformly-loaded
    tables (every bucket moderately sized — e.g. a corpus where
    everything is ~10x duplicated, the sf1 soak shape) on the unsalted
    plan, where the hash shuffle is already balanced and replication is
    pure overhead (measured 2.5x slower salted at sf1, and 3-4x on the
    sf1 soak where all 1024 band buckets held ~80 rows each); a planted
    boilerplate block whose buckets dominate the pair work trips both
    conditions and spreads over ``SALT_G`` reducers (measured 1.9x
    faster salted on the skew fixture).  The total pair work is a
    scalar subquery, so the frame stays lazy and joins nothing."""
    n_reducers = shuffle_partitions(slim)
    cnt = slim.groupBy("b", "bk").agg(F.count(F.lit(1)).alias("n"))
    work = F.col("n").cast("double") * F.col("n")
    total_pair_work = cnt.agg(F.sum(work)).scalar()
    return cnt.where(
        (F.col("n") > hot_bucket_threshold)
        & (work > total_pair_work * F.lit(HOT_IMBALANCE_FACTOR / n_reducers))
    ).select("b", "bk")


def banded_self_join(
    slim: DataFrame,
    id_col: str,
    directed: bool,
    width: int,
    n_bands: int,
    hot_bucket_threshold: int = HOT_BUCKET,
) -> DataFrame:
    """Candidate pairs (id_a, id_b) from the banded (id_col, allb, b,
    bk) self-join: every pair of distinct ids sharing a (b, bk) bucket,
    emitted exactly once.  ``directed`` emits both orders
    (id_a != id_b, the top-k shape); otherwise only id_a < id_b.
    ``width`` is the char width of one band key inside ``allb``.

    Band tables at 100 TB are skewed (boilerplate docs, template
    captions, zero vectors all collapse into the same buckets), and the
    naive self-join sends every pair of a hot bucket to one reducer —
    O(n_hot^2) on a single core.  Here a first map-side-combinable
    count pass finds the hot buckets (``hot_buckets``); only those rows
    replicate (left side x ``SALT_G`` partner groups, right side keeps
    its hash group ``g``), so a hot bucket's pairs land on ``SALT_G``
    reducers.  Cold buckets — the common case — join unsalted with zero
    replication.

    A pair colliding in several bands is emitted exactly once, WITHOUT
    a pair-volume dedup shuffle: each row carries the full concatenated
    signature ``allb``, and the joined row survives only at the first
    band where both sides agree (``first_match_band``).  Branch
    ownership is consistent — a collision's two rows share (b, bk), so
    both sit in the same (hot or cold) branch, and the pair's first-
    matching band decides which branch emits it.

    Output pair SET is provably identical to the unsalted join: the
    hot path enumerates each pair exactly once (partner group
    p == xxhash64(id_b) % SALT_G partitions the id_b side).

    Salting engages only for buckets that would actually STRAGGLE a
    reducer (``hot_buckets``), so a uniformly-loaded table stays
    unsalted.  Building the plan runs no Spark job: adaptive execution
    picks the branches at run time from the hot-bucket broadcast.
    """
    first_b = first_match_band(
        F.col("a.allb"), F.col("c.allb"), n_bands, width
    )
    a_id, c_id = F.col(f"a.{id_col}"), F.col(f"c.{id_col}")
    distinct_ids = (a_id != c_id) if directed else (a_id < c_id)
    same_bucket = (F.col("a.b") == F.col("c.b")) & (
        F.col("a.bk") == F.col("c.bk")
    )

    def pairs(a: DataFrame, c: DataFrame, on: Column) -> DataFrame:
        return (
            a.alias("a")
            .join(c.alias("c"), same_bucket & on & distinct_ids)
            .where(F.col("a.b") == first_b)
            .select(a_id.alias("id_a"), c_id.alias("id_b"))
        )

    # the caller materializes the band rows (their keys are expensive
    # minhash or sign-plane projections), so each read below is cheap.
    # One lazy plan for both cases: AQE runs the hot-bucket broadcast
    # stage first, and when it is empty its empty-relation propagation
    # turns the anti join into plain slim and drops the whole salted
    # half before any of its stages exist, so the common unskewed path
    # never compiles it (the sf1 soak measured that compile at ~25 s of
    # a 37 s cold run).  Without AQE the plan is still correct.
    hot = F.broadcast(hot_buckets(slim, hot_bucket_threshold))
    cold = slim.join(hot, ["b", "bk"], "left_anti")
    hotr = slim.join(hot, ["b", "bk"], "left_semi").withColumn(
        "g", F.pmod(F.xxhash64(id_col), F.lit(SALT_G))
    )
    # hot buckets: left replicates once per partner group p; the join
    # requires p == right.g so the shuffle key (b, bk, p) splits a hot
    # bucket's pairs across SALT_G reducers
    # explicit-count repartition on the join keys: AQE's partition
    # coalescing sizes by INPUT bytes, so it would merge the hot join's
    # few-MB band rows back into 1-2 tasks and the output-sized pair
    # emission — the whole point of the split — would run serially
    # anyway (measured 12.5s -> 1.8s on the skew fixture's hot block
    # with the pin).  A user-specified repartition count is exempt
    # from AQE coalescing; same trick BENCH.md documents for the
    # minhash pUDF stage.
    n_parts = shuffle_partitions(slim)
    hot_a = hotr.withColumn(
        "p", F.explode(F.array(*[F.lit(i) for i in range(SALT_G)]))
    ).repartition(n_parts, "b", "bk", "p")
    hot_c = hotr.repartition(n_parts, "b", "bk", "g")
    return pairs(cold, cold, F.lit(True)).unionByName(
        pairs(hot_a, hot_c, F.col("a.p") == F.col("c.g"))
    )
