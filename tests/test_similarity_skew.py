"""Hot-bucket LSH skew for the embedding paths: a boilerplate corpus
(hundreds of identical embeddings sharing every sign band) must engage
the partner-group salting, spread the hot bucket's pair volume over
``SALT_G`` reducer keys, and produce the exact same pair set as the
unsalted join.  The embedding and text near-dup families share one
band self-join, ``banded_join.banded_self_join``: the embedding paths
call it directed, ``textops.near_dup_pairs`` undirected."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.operators import banded_join as BJ
from s2geometry_spark.operators import similarity as SIM


def _cand(slim, directed=True, **kw):
    """The embedding paths' candidate join over (vec_id, allb, b, bk)."""
    return BJ.banded_self_join(
        slim, "vec_id", directed, SIM.BAND_BITS, SIM.N_BANDS, **kw
    )


def _emb_df(spark, n_same: int, n_rand: int):
    rng = np.random.default_rng(7)
    base = rng.standard_normal(SIM.DIM)
    rows = [(i, (base / np.linalg.norm(base)).tolist()) for i in range(n_same)]
    R = rng.standard_normal((n_rand, SIM.DIM))
    R /= np.linalg.norm(R, axis=1, keepdims=True)
    rows += [(n_same + i, R[i].tolist()) for i in range(n_rand)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf).select(
        F.col("vec_id").cast("long"),
        F.col("embedding").cast("array<float>"),
    )


def test_hot_bucket_salting_preserves_pair_set(spark):
    """Salted (threshold 16) and unsalted (threshold so high nothing is
    hot) candidate generation produce identical directed pair sets on
    a corpus with one planted hot bucket."""
    emb = _emb_df(spark, n_same=120, n_rand=40)
    bands = SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS)
    slim = SIM._band_rows(emb, bands)
    salted = _cand(slim, hot_bucket_threshold=16)
    unsalted = _cand(slim, hot_bucket_threshold=10**9)
    got = sorted(tuple(r) for r in salted.collect())
    want = sorted(tuple(r) for r in unsalted.collect())
    assert got == want
    # the planted clone block collides in every band -> 120*119 pairs
    n_same_pairs = sum(1 for a, b in got if a < 120 and b < 120)
    assert n_same_pairs == 120 * 119


def test_directed_and_undirected_modes_agree(spark):
    """One slim table with a planted hot bucket, both modes, salted
    (threshold 16) and unsalted (threshold 10**9): each mode's pair
    set is the same either way, no pair is emitted twice, and the
    undirected set is exactly the directed set cut to id_a < id_b."""
    emb = _emb_df(spark, n_same=120, n_rand=40)
    slim = SIM._band_rows(emb, SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS))
    got = {}
    for directed in (True, False):
        for threshold in (16, 10**9):
            rows = [
                tuple(r)
                for r in _cand(
                    slim, directed, hot_bucket_threshold=threshold
                ).collect()
            ]
            assert len(rows) == len(set(rows)), (directed, threshold)
            got[directed, threshold] = set(rows)
        assert got[directed, 16] == got[directed, 10**9]
    directed, undirected = got[True, 16], got[False, 16]
    assert undirected == {(a, b) for a, b in directed if a < b}
    assert directed == undirected | {(b, a) for a, b in undirected}
    # every pair inside the planted clone block, once
    assert sum(1 for a, b in undirected if b < 120) == 120 * 119 // 2


def test_hot_bucket_pairs_spread_over_salt_groups(spark):
    """The skew property itself: in the salted plan, a hot bucket's
    directed pairs carry >1 distinct shuffle key (b, bk, p==g match),
    i.e. the pair volume lands on salt_g reducer keys instead of one.
    Verified from the data side: partner-group keys g of the nid side
    cover all salt_g groups for the hot block."""
    salt_g = BJ.SALT_G
    emb = _emb_df(spark, n_same=120, n_rand=10)
    bands = SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS)
    slim = SIM._band_rows(emb, bands).withColumn(
        "g", F.pmod(F.xxhash64("vec_id"), F.lit(salt_g))
    )
    hot_groups = (
        slim.where(F.col("vec_id") < 120)
        .select("g")
        .distinct()
        .count()
    )
    # 120 xxhash64 ids spread over 8 groups: all groups occupied, so
    # the hot bucket's pairs shuffle under 8 distinct (b, bk, p) keys
    assert hot_groups == salt_g


def test_ann_and_near_dup_complete_on_boilerplate(spark):
    """End-to-end: both gated queries run their hot branch on the
    skewed corpus (the 150-clone block is hot at the product
    threshold) and return the DuckDB oracle's rows."""
    import duckdb

    emb = _emb_df(spark, n_same=150, n_rand=30)
    slim = SIM._band_rows(emb, SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS))
    assert BJ.hot_buckets(slim, BJ.HOT_BUCKET).count() > 0
    con = duckdb.connect()
    con.register("emb_pdf", emb.toPandas())
    con.execute(
        "CREATE TABLE embeddings AS SELECT vec_id, "
        "CAST(embedding AS FLOAT[]) AS embedding FROM emb_pdf"
    )
    for got, sql in (
        (SIM.ann_lsh_topk(emb, 3), SIM.ann_lsh_topk_sql(3)),
        (SIM.embed_near_dup(emb, 0.92), SIM.embed_near_dup_sql(0.92)),
    ):
        want = con.execute(sql).fetchall()
        assert sorted(map(tuple, got.collect())) == sorted(want)
    # the clone block folds to one root under near-dup
    nd = SIM.embed_near_dup(emb, 0.92).collect()
    roots = {r["dup_root"] for r in nd if r["vec_id"] < 150}
    assert roots == {0}


def test_uniform_buckets_stay_unsalted(spark):
    """The relative engagement rule: a table where EVERY bucket is
    moderately sized (uniform 10x-duplication, the sf1 soak shape) has
    no straggler reducer, so no bucket may salt — replication there is
    pure overhead (measured 3-4x slower at sf1).  A single dominant
    boilerplate block must still salt."""
    rng = np.random.default_rng(11)
    # 40 clone blocks of 30: every band bucket holds >= 30 rows
    # (> threshold 16) but none dominates the total pair work
    rows = []
    for blk in range(40):
        v = rng.standard_normal(SIM.DIM)
        v /= np.linalg.norm(v)
        for i in range(30):
            rows.append((blk * 30 + i, v.tolist()))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    emb = spark.createDataFrame(pdf).select(
        F.col("vec_id").cast("long"),
        F.col("embedding").cast("array<float>"),
    )
    bands = SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS)
    slim = SIM._band_rows(emb, bands)
    assert BJ.hot_buckets(slim, hot_bucket_threshold=16).count() == 0

    # planted dominant block: one bucket holds most of the pair work
    hot_emb = _emb_df(spark, n_same=300, n_rand=40)
    hot_slim = SIM._band_rows(hot_emb, bands)
    assert BJ.hot_buckets(hot_slim, hot_bucket_threshold=16).count() > 0


def test_unskewed_corpus_compiles_one_branch_plan(spark, final_plan):
    """With zero hot buckets adaptive execution must run the plain
    one-branch join — no partner-group explode, no hot+cold union — so
    whole-stage codegen never compiles the salted half of the plan (the
    sf1 soak measured that compile at ~25s of a 37s cold run).  A
    planted boilerplate block must still run the salted two-branch
    plan."""
    emb = _emb_df(spark, n_same=1, n_rand=60)
    bands = SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS)
    slim = SIM._band_rows(emb, bands)
    plan = final_plan(_cand(slim, hot_bucket_threshold=16))
    assert "explode" not in plan and "Union" not in plan

    hot_emb = _emb_df(spark, n_same=120, n_rand=10)
    hot_slim = SIM._band_rows(hot_emb, bands)
    hot_plan = final_plan(_cand(hot_slim, hot_bucket_threshold=16))
    assert "explode" in hot_plan and "Union" in hot_plan


@pytest.mark.parametrize("n_same", [1, 120])
def test_building_the_join_starts_no_spark_job(spark, n_same):
    """Building the candidate join over checkpointed band rows runs
    nothing, on a cold and on a hot corpus: the branch choice is left
    to adaptive execution, not made by an eager job."""
    emb = _emb_df(spark, n_same=n_same, n_rand=40)
    slim = SIM._band_rows(emb, SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS))
    sc = spark.sparkContext
    group = f"build-banded-self-join-{n_same}"
    sc.setJobGroup(group, group)
    try:
        _cand(slim, hot_bucket_threshold=16)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
