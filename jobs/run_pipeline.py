"""spark-submit entry: the end-to-end image->tile->join pipeline with
checkpointed stages.

    spark-submit --py-files $(python -c 'from s2geometry_spark.plans.session import package_zip; print(package_zip())') \
        jobs/run_pipeline.py --n-images 100000 --tile-level 8 \
        --checkpoint-root /tmp/s2_ckpt

Each stage writes parquet + per-partition lineage and is skipped on
re-run when its fingerprint is unchanged (resume mid-pipeline,
north_rule).  On a cluster, pass --master and executor confs through
spark-submit as usual; this script only builds a local session when
run outside spark-submit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=100_000)
    ap.add_argument("--tile-level", type=int, default=8)
    ap.add_argument("--checkpoint-root", default="/tmp/s2_ckpt")
    ap.add_argument("--mosaic", action="store_true", help="also build mosaics")
    args = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if here not in sys.path:
        sys.path.insert(0, here)

    from pyspark.sql import SparkSession

    from s2geometry_spark.plans import session as SESSION

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    elif os.environ.get("PYSPARK_GATEWAY_PORT"):
        # launched by spark-submit: the JVM gateway already carries
        # --master and the executor confs, so attach to it instead of
        # building a local[] session that would clobber spark.master;
        # the call-site capture goes off here as in build_session
        spark = (
            SparkSession.builder.appName("s2_pipeline")
            .config(*SESSION.NO_CALL_SITE_CAPTURE)
            .getOrCreate()
        )
    else:
        spark = SESSION.build_session(app_name="s2_pipeline")

    from s2geometry_spark.operators import mosaic as M
    from s2geometry_spark.plans.checkpoint import CheckpointedPipeline
    from s2geometry_spark.sources import images as IMG

    pipe = CheckpointedPipeline(spark, args.checkpoint_root)

    imgs = pipe.stage(
        "images",
        lambda: IMG.image_table(spark, args.n_images),
        params={"n": args.n_images},
    )
    tiled = pipe.stage(
        "tiles",
        lambda df: M.with_tiles(df, args.tile_level),
        inputs=(imgs,),
        params={"level": args.tile_level},
    )
    counts = pipe.stage(
        "tile_counts",
        lambda df: df.groupBy("tile_id").count(),
        inputs=(tiled,),
    )

    def unit_points(df):
        """(key, cell_id, x, y, z) unit vectors from the geotag."""
        from pyspark.sql import functions as F

        lat = F.radians(F.col("lat"))
        lon = F.radians(F.col("lon"))
        return df.select(
            F.col("image_id").alias("key"),
            "cell_id",
            (F.cos(lon) * F.cos(lat)).alias("x"),
            (F.sin(lon) * F.cos(lat)).alias("y"),
            F.sin(lat).alias("z"),
        )

    def region_join(df):
        from s2geometry_spark.operators import spatial_join as SJ
        from s2geometry_spark.sources import regions_src as R

        return SJ.point_in_cap_join(
            spark, unit_points(df), R.synthetic_caps(range(25))
        )

    joined = pipe.stage(
        "region_join",
        region_join,
        inputs=(tiled,),
        params={"regions": 25},
    )

    def route_near(df):
        from s2geometry_spark.operators import spatial_join as SJ
        from s2geometry_spark.sources import regions_src as R

        lines = [(k, R.polyline_vertices(k)) for k in range(25)]
        return SJ.point_near_polyline_join(
            spark, unit_points(df), lines, 0.08
        )

    near_routes = pipe.stage(
        "route_near",
        route_near,
        inputs=(tiled,),
        params={"routes": 25, "radius": 0.08},
    )

    def near_dup(df):
        from s2geometry_spark.operators.image_dedup import phash_near_dup

        return phash_near_dup(
            df.select("image_id", "phash"),
            max_hamming=3,
            id_col="image_id",
        )

    dups = pipe.stage(
        "near_dup",
        near_dup,
        inputs=(imgs,),
        params={"max_hamming": 3},
    )
    report = {
        "images": {"rows": imgs.rows, "resumed": imgs.resumed},
        "tiles": {"rows": tiled.rows, "resumed": tiled.resumed},
        "tile_counts": {"rows": counts.rows, "resumed": counts.resumed},
        "region_join": {"rows": joined.rows, "resumed": joined.resumed},
        "route_near": {"rows": near_routes.rows, "resumed": near_routes.resumed},
        "near_dup": {"rows": dups.rows, "resumed": dups.resumed},
    }
    if args.mosaic:
        mos = pipe.stage(
            "mosaics",
            lambda df: M.tile_mosaics(df),
            inputs=(tiled,),
        )
        report["mosaics"] = {"rows": mos.rows, "resumed": mos.resumed}
    print(json.dumps(report))


if __name__ == "__main__":
    main()
