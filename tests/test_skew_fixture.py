"""The planted-skew fixture (jobs/gen_sf_scale.py --skew) and the
invariant it exists to demonstrate: a plan change never changes the
RESULT.  The covering join's shuffle plan returns its broadcast
plan's rows on the hot geotag, and flipping the LSH self-joins'
salting knob spreads hot buckets over salt partitions with the same
pairs.  bench.py --skew asserts the ANN count equality at full size;
these tests assert full row-set equality at miniature size, through
the same parquet fixture path the bench reads."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jobs.gen_sf_scale import METRO_REGION_ID, gen_skew, metro_center

SIZES = dict(n_points=4_000, n_emb=400, hot_emb=80, n_docs=300, hot_docs=60)


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("skew"))
    gen_skew(d, **SIZES)
    return d


def test_generator_deterministic_and_hot_fractions(skew_dir, tmp_path):
    import duckdb

    d2 = str(tmp_path / "again")
    gen_skew(d2, **SIZES)
    for t in ("points", "embeddings", "documents"):
        a = duckdb.sql(f"SELECT * FROM '{skew_dir}/{t}.parquet'").fetchall()
        b = duckdb.sql(f"SELECT * FROM '{d2}/{t}.parquet'").fetchall()
        assert a == b, f"{t} not deterministic"
    mx, my, mz = metro_center()
    n_hot = duckdb.sql(
        f"SELECT count(*) FROM '{skew_dir}/points.parquet' "
        f"WHERE x = {mx!r} AND y = {my!r} AND z = {mz!r}"
    ).fetchone()[0]
    assert n_hot == sum(1 for k in range(1, SIZES["n_points"] + 1) if k % 10 < 3)
    n_boiler = duckdb.sql(
        f"SELECT count(*) FROM (SELECT embedding FROM "
        f"'{skew_dir}/embeddings.parquet' GROUP BY embedding "
        f"HAVING count(*) = {SIZES['hot_emb']})"
    ).fetchone()[0]
    assert n_boiler == 1
    n_text = duckdb.sql(
        f"SELECT count(DISTINCT text) FROM '{skew_dir}/documents.parquet' "
        f"WHERE doc_id < {SIZES['hot_docs']}"
    ).fetchone()[0]
    assert n_text == 1


def test_pip_shuffle_plan_equals_broadcast_rows(
    spark, skew_dir, shuffle_join_rows
):
    from s2geometry_spark.kernels.geom import Cap
    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import regions_src as R

    pts = T.assign_cellids(
        spark.read.parquet(f"{skew_dir}/points.parquet")
    ).localCheckpoint()
    caps = R.synthetic_caps(range(1, 25)) + [
        (METRO_REGION_ID, Cap(metro_center(), 1e-6))
    ]
    want = sorted(
        tuple(r) for r in SJ.point_in_cap_join(spark, pts, caps).collect()
    )
    got = shuffle_join_rows(lambda: SJ.point_in_cap_join(spark, pts, caps))
    assert got == want
    # every metro point lands in the metro cap: the hot key is real
    n_metro = sum(1 for _, rid in got if rid == METRO_REGION_ID)
    assert n_metro >= sum(
        1 for k in range(1, SIZES["n_points"] + 1) if k % 10 < 3
    )


def test_embedding_hot_bucket_engages_and_matches(spark, skew_dir):
    from s2geometry_spark.operators import banded_join as BJ
    from s2geometry_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{skew_dir}/embeddings.parquet")
    slim = SIM._band_rows(
        emb, SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS)
    ).localCheckpoint()
    # the boilerplate block IS a hot bucket at the product threshold
    hot_n = (
        slim.groupBy("b", "bk")
        .count()
        .where(F.col("count") > BJ.HOT_BUCKET)
        .count()
    )
    assert hot_n >= SIM.N_BANDS  # one hot bucket per band
    def cand(threshold):
        return BJ.banded_self_join(
            slim, "vec_id", True, SIM.BAND_BITS, SIM.N_BANDS, threshold
        )

    salted = cand(BJ.HOT_BUCKET)
    unsalted = cand(2**31)
    got = sorted(tuple(r) for r in salted.collect())
    assert got == sorted(tuple(r) for r in unsalted.collect())
    hot = SIZES["hot_emb"]
    n_hot_pairs = sum(1 for a, b in got if a < hot and b < hot)
    assert n_hot_pairs == hot * (hot - 1)


def test_doc_hot_bucket_salting_matches(spark, skew_dir):
    from s2geometry_spark.operators import banded_join as BJ
    from s2geometry_spark.operators import textops as TX

    docs = spark.read.parquet(f"{skew_dir}/documents.parquet")
    slim = TX.doc_band_rows(docs, with_allb=True).localCheckpoint()
    # the boilerplate block is hot at 16, so the salted branch runs
    assert BJ.hot_buckets(slim, 16).count() > 0

    def cand(threshold):
        return sorted(
            tuple(r)
            for r in BJ.banded_self_join(
                slim, "doc_id", False, 32, TX.LSH_BANDS, threshold
            ).collect()
        )

    got = cand(16)
    assert got == cand(10**9)
    # the boilerplate block is all mutual near-dups
    ids = {a for a, _ in got} | {b for _, b in got}
    assert set(range(SIZES["hot_docs"])) <= ids
