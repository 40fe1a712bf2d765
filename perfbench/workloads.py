"""The benchmark's workloads: seeded inputs, one closed-loop step, and
output checks against the repository's own oracles.

Each workload is two phases, named after the library paths they drive
(reports and per-layer metrics use the phase names):

``ingest_dedup``
    ``tile_ingest``: seeded points from a fixed-partition range through
    ``sources.points.with_xyz`` -> ``tile.assign_cellids`` ->
    ``tile.tile_counts``, and the same encoded rows ->
    ``sources.sink.write_clustered``.  ``near_dup``:
    ``textops.near_dup_pairs`` and ``similarity.embed_near_dup`` over
    seeded row samples of the sf0.1 ``documents`` and ``embeddings``
    tables, written once in setup.  Every phase keeps all cores busy; this is
    the workload that runs the Arrow encode and the parquet write.
``region_knn``
    ``region_join``: ``spatial_join.point_in_cap_join`` (25 synthetic
    caps plus 32 overlapping metro caps) and ``point_in_loop_join``
    (the fractal loops) over points of which a seeded 30% share one
    geotag, encoded once in setup.  ``knn``: ``knn.knn_join`` and
    ``knn.furthest_join`` of seeded query points against a seeded
    index, both encoded in setup.  No encode runs inside the step, so an
    encode change must leave this workload unchanged.

Each step forces every output through one Spark action (a ``noop``
write, or the sink's parquet write); the action's output row count is
read from Spark's SQL metrics and must equal the checked count.
"""

from __future__ import annotations

import math
import os

import numpy as np

# Sizes: chosen so one run (session, warm-up, timed loop, checks) stays
# near a minute on 4 cores; see METRICS.md for the time budget.
TILE_POINTS = 400_000
N_DOCS = 1_000
N_EMB = 1_000
REGION_POINTS = 200_000
# kNN: with 2000 index points the ring-expansion round count (and so the
# job count: 31 or 43 per call) depended on the seed, which swung the kNN
# phase by a quarter between seeds; with 500 it was the same on each of
# the 26 seeds tried (30 per call)
KNN_QUERIES = 10_000
KNN_INDEX = 500

TILE_LEVEL = 8          # __spark_entry__.TILE_LEVEL
KNN_K = 3               # __spark_entry__.KNN_K
EMBED_DUP_TAU = 0.40    # __spark_entry__.EMBED_DUP_TAU
FRACTAL_REGIONS = 8     # __spark_entry__.FRACTAL_REGIONS
FRACTAL_VERTICES = 512  # __spark_entry__.FRACTAL_VERTICES
# The hot-cell fixture of jobs/gen_sf_scale.gen_skew: 30% of points at
# one (unnormalized) metro direction.
METRO_XYZ = (0.3, -0.5, 0.8)
HOT_SHARE = 3  # tenths
N_METRO_CAPS = 32
SAMPLE_POINTS = 1_500
SAMPLE_QUERIES = 300
KEY_STRIDE = 7_919_003  # per-seed key offset: a disjoint point set per seed
ID_STRIDE = 100_000     # per-seed doc/vec id offset (sf0.1 ids are < 5000)
# copies of the sf0.1 documents and embeddings tables (see METRICS.md)
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _range_points(spark, start: int, n: int, parts: int):
    from s2geometry_spark.sources import points as P

    return P.with_xyz(
        spark.range(start, start + n, numPartitions=parts).withColumnRenamed("id", "key")
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _duck(work: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duck')}'")
    return con


def _mismatch(what: str, got: list, want: list) -> list[str]:
    """Exact multiset comparison of result rows."""
    if sorted(got) == sorted(want):
        return []
    g, w = set(got), set(want)
    return [
        f"{what}: {len(got)} rows vs oracle {len(want)}; "
        f"{len(g - w)} unexpected, {len(w - g)} missing"
    ]


def check_counts(expected: dict[str, int], got: dict[str, int]) -> list[str]:
    """Per-iteration output counts against the checked counts."""
    return [
        f"{k}: {got.get(k)} rows, checked count {v}"
        for k, v in expected.items()
        if got.get(k) != v
    ]


class Workload:
    name = ""
    rows = 0                 # input rows one step reads
    stored_bytes = 0         # bytes the workload persisted via the sink
    stored_rows = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.expected: dict[str, int] = {}

    def sizes(self) -> dict[str, int]:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def step(self, spark, tr) -> None:
        raise NotImplementedError

    def verify(self, checked: str, first_rows: dict[str, int]) -> list[str]:
        """Oracle checks, outside the timed region, of the outputs the
        warm-up step wrote under ``checked``; fills ``expected`` with the
        row count every timed step must reproduce.  Returns failure
        messages (empty when every check passes)."""
        raise NotImplementedError


class IngestDedup(Workload):
    name = "ingest_dedup"

    def sizes(self):
        return {"tile_points": TILE_POINTS, "docs": N_DOCS, "embeddings": N_EMB}

    def setup(self, spark):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.rows = TILE_POINTS + N_DOCS + N_EMB
        self.key0 = self.seed * KEY_STRIDE
        self.pts = _range_points(spark, self.key0, TILE_POINTS, 8)
        self.sink_dir = os.path.join(self.work, "tiles")
        # near_dup: seeded row samples of the sf0.1 documents and
        # embeddings tables (copies in perfbench/data/), ids shifted by
        # the seed, written once
        rng = np.random.default_rng(self.seed)
        id0 = self.seed * ID_STRIDE
        self.docs_path = os.path.join(self.work, "documents.parquet")
        self.emb_path = os.path.join(self.work, "embeddings.parquet")
        for src, n, key, dst in (("documents", N_DOCS, "doc_id", self.docs_path),
                                 ("embeddings", N_EMB, "vec_id", self.emb_path)):
            t = pq.read_table(os.path.join(DATA_DIR, f"{src}.parquet"))
            t = t.take(np.sort(rng.choice(t.num_rows, n, replace=False)))
            ids = pc.add(t[key], pa.scalar(id0, pa.int64()))
            pq.write_table(t.set_column(t.schema.get_field_index(key), key, ids), dst)
        self.docs = spark.read.parquet(self.docs_path)
        self.emb = spark.read.parquet(self.emb_path)

    def step(self, spark, tr):
        from s2geometry_spark.operators import similarity as SIM
        from s2geometry_spark.operators import textops as TX
        from s2geometry_spark.operators import tile as T
        from s2geometry_spark.sources import sink as SK

        with tr.span("tile_ingest", "bench"):
            with tr.span("tile.tile_counts", "tile"):
                with tr.span("tile.tile_counts.plan", "tile"):
                    enc = T.assign_cellids(self.pts)
                    counts = T.tile_counts(enc, TILE_LEVEL)
                tr.force(counts, "tile_counts")
            with tr.span("sink.write_clustered", "sink"):
                tr.force(enc, "write_clustered",
                         write=lambda df: SK.write_clustered(df, self.sink_dir))
        with tr.span("near_dup", "bench"):
            with tr.span("textops.near_dup_pairs", "near_dup"):
                with tr.span("textops.near_dup_pairs.plan", "near_dup"):
                    pairs = TX.near_dup_pairs(self.docs)
                tr.force(pairs, "near_dup_pairs")
            with tr.span("similarity.embed_near_dup", "near_dup"):
                with tr.span("similarity.embed_near_dup.plan", "near_dup"):
                    dups = SIM.embed_near_dup(self.emb, EMBED_DUP_TAU)
                tr.force(dups, "embed_near_dup")

    def verify(self, checked, first_rows):
        from s2geometry_spark.kernels import cellid as C
        from s2geometry_spark.operators import similarity as SIM
        from s2geometry_spark.operators import textops as TX
        from s2geometry_spark.sources import points as P

        bad: list[str] = []
        self.stored_bytes = _dir_bytes(self.sink_dir)  # the last step's write
        self.stored_rows = TILE_POINTS
        con = _duck(self.work)
        try:
            # tile: the driver kernels on the same keys, bit for bit
            key = np.arange(self.key0, self.key0 + TILE_POINTS, dtype=np.int64)
            xyz = [
                (key % P.MOD[a] * P.MUL[a] % P.MOD[a]).astype(np.float64)
                / (P.MOD[a] / 2.0) - 1.0
                for a in ("x", "y", "z")
            ]
            cid = C.as_i64(C.xyz_to_cellid(*xyz))
            tiles, n = np.unique(C.as_i64(C.parent(cid, TILE_LEVEL)), return_counts=True)
            got = con.execute(
                f"SELECT tile_id, n FROM '{checked}/tile_counts/*.parquet' ORDER BY tile_id"
            ).fetchnumpy()
            if not (np.array_equal(got["tile_id"], tiles) and np.array_equal(got["n"], n)):
                bad.append("tile_counts: differs from the driver kernels")
            if int(got["n"].sum()) != TILE_POINTS:
                bad.append("tile_counts: sum(n) != input rows")
            self.expected["tile_counts"] = len(tiles)
            sample = np.random.default_rng(self.seed + 1).choice(
                TILE_POINTS, SAMPLE_POINTS, replace=False)
            keys = key[sample]
            got = con.execute(
                f"SELECT key, cell_id FROM read_parquet('{self.sink_dir}/**/*.parquet') "
                f"WHERE key IN ({', '.join(map(str, keys.tolist()))})"
            ).fetchall()
            bad += _mismatch("write_clustered cell_id sample", got,
                             list(zip(keys.tolist(), cid[sample].tolist())))
            if con.execute(
                f"SELECT count(*) FROM read_parquet('{self.sink_dir}/**/*.parquet')"
            ).fetchone()[0] != TILE_POINTS:
                bad.append("write_clustered: row count != input rows")
            self.expected["write_clustered"] = TILE_POINTS
            # near_dup: the DuckDB oracles over the same parquet
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.docs_path}'")
            con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{self.emb_path}'")
            for name, sql, cols in (
                ("near_dup_pairs", TX.near_dup_pairs_sql("documents"), "id_a, id_b, jaccard"),
                ("embed_near_dup", SIM.embed_near_dup_sql(EMBED_DUP_TAU, "embeddings"),
                 "vec_id, dup_root, n_nbrs, is_dup"),
            ):
                want = con.execute(sql).fetchall()
                got = con.execute(f"SELECT {cols} FROM '{checked}/{name}/*.parquet'").fetchall()
                bad += _mismatch(name, got, want)
                self.expected[name] = len(want)
        finally:
            con.close()
        return bad


def _metro_caps():
    """32 overlapping caps around the hot geotag: centers nudged off the
    metro direction by < 1e-4 rad, radii all wide enough to contain it."""
    from s2geometry_spark.kernels.geom import Cap

    x, y, z = METRO_XYZ
    n = math.sqrt(x * x + y * y + z * z)
    caps = []
    for i in range(N_METRO_CAPS):
        a = 2 * math.pi * i / N_METRO_CAPS
        cx = x / n + 5e-5 * math.cos(a)
        cy = y / n + 5e-5 * math.sin(a)
        cz = z / n
        r = math.sqrt(cx * cx + cy * cy + cz * cz)
        caps.append((1000 + i, Cap((cx / r, cy / r, cz / r), 1e-6 * (i + 2) ** 2)))
    return caps


class RegionKnn(Workload):
    name = "region_knn"

    def sizes(self):
        return {"region_points": REGION_POINTS, "knn_queries": KNN_QUERIES,
                "knn_index": KNN_INDEX}

    def setup(self, spark):
        from pyspark.sql import functions as F

        from s2geometry_spark.operators import tile as T
        from s2geometry_spark.sources import regions_src as R
        from s2geometry_spark.sources import sink as SK

        self.rows = REGION_POINTS + KNN_QUERIES + KNN_INDEX
        key0 = self.seed * KEY_STRIDE
        x, y, z = METRO_XYZ
        n = math.sqrt(x * x + y * y + z * z)
        hot = F.pmod(F.xxhash64(F.col("key"), F.lit(self.seed)), F.lit(10)) < HOT_SHARE
        pts = _range_points(spark, key0, REGION_POINTS, 8).withColumns({
            "x": F.when(hot, F.lit(x / n)).otherwise(F.col("x")),
            "y": F.when(hot, F.lit(y / n)).otherwise(F.col("y")),
            "z": F.when(hot, F.lit(z / n)).otherwise(F.col("z")),
        })
        self.dirs = {
            "points": os.path.join(self.work, "region_points"),
            "queries": os.path.join(self.work, "knn_queries"),
            "index": os.path.join(self.work, "knn_index"),
        }
        inputs = {
            "points": pts,
            "queries": _range_points(spark, key0 + REGION_POINTS, KNN_QUERIES, 4),
            "index": _range_points(
                spark, key0 + REGION_POINTS + KNN_QUERIES, KNN_INDEX, 1
            ),
        }
        for k, df in inputs.items():
            SK.write_clustered(T.assign_cellids(df), self.dirs[k],
                               n_buckets=8 if k == "points" else 4)
        self.stored_bytes = sum(_dir_bytes(d) for d in self.dirs.values())
        self.stored_rows = self.rows
        cols = ["key", "x", "y", "z", "cell_id"]
        self.pts = SK.read_clustered(spark, self.dirs["points"]).select(*cols)
        self.queries = SK.read_clustered(spark, self.dirs["queries"]).select(*cols)
        self.index = SK.read_clustered(spark, self.dirs["index"]).select(*cols)
        self.caps = R.synthetic_caps(range(25)) + _metro_caps()
        self.loops = R.fractal_loops(range(FRACTAL_REGIONS), FRACTAL_VERTICES)
        self.key0 = key0

    def step(self, spark, tr):
        from s2geometry_spark.operators import knn as KNN
        from s2geometry_spark.operators import spatial_join as SJ

        calls = {
            "point_in_cap_join": ("spatial_join", lambda: SJ.point_in_cap_join(
                spark, self.pts, self.caps)),
            "point_in_loop_join": ("spatial_join", lambda: SJ.point_in_loop_join(
                spark, self.pts, self.loops)),
            "knn_join": ("knn", lambda: KNN.knn_join(
                spark, self.queries, self.index, KNN_K, index_count=KNN_INDEX)),
            "furthest_join": ("knn", lambda: KNN.furthest_join(
                spark, self.queries, self.index, KNN_K, index_count=KNN_INDEX)),
        }
        for phase, names in (("region_join", ("point_in_cap_join", "point_in_loop_join")),
                             ("knn", ("knn_join", "furthest_join"))):
            with tr.span(phase, "bench"):
                for name in names:
                    layer, call = calls[name]
                    with tr.span(f"{layer}.{name}", layer):
                        with tr.span(f"{layer}.{name}.plan", layer):
                            df = call()
                        tr.force(df, name)

    def verify(self, checked, first_rows):
        from s2geometry_spark.functions import duckdb_oracle as O
        from s2geometry_spark.operators import knn as KNN
        from s2geometry_spark.sources import regions_src as R

        bad: list[str] = []
        rng = np.random.default_rng(self.seed + 1)
        con = _duck(self.work)
        try:
            for k, d in self.dirs.items():
                con.execute(
                    f"CREATE VIEW {k} AS SELECT key, x, y, z "
                    f"FROM read_parquet('{d}/**/*.parquet')"
                )
            for name in ("point_in_cap_join", "point_in_loop_join", "knn_join",
                         "furthest_join"):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{checked}/{name}/*.parquet'")
            cap_rows = ", ".join(
                f"({rid}, {R._dlit(c.center[0])}, {R._dlit(c.center[1])}, "
                f"{R._dlit(c.center[2])}, {R._dlit(c.radius2)})"
                for rid, c in self.caps
            )
            cap_sql = (
                f"WITH ucaps(region_id, cx, cy, cz, r2) AS (VALUES {cap_rows}), "
                "upts AS (SELECT key, x/r AS ux, y/r AS uy, z/r AS uz FROM "
                "(SELECT key, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM points)) "
                "SELECT p.key AS key, c.region_id AS region_id "
                "FROM upts p CROSS JOIN ucaps c WHERE "
                "least((p.ux-c.cx)*(p.ux-c.cx) + (p.uy-c.cy)*(p.uy-c.cy) + "
                "(p.uz-c.cz)*(p.uz-c.cz), 4.0) <= c.r2"
            )
            # cap join: row-exact in full, both directions
            n_want, extra, missing = con.execute(
                f"WITH want AS ({cap_sql}), got AS (SELECT key, region_id "
                "FROM point_in_cap_join) SELECT (SELECT count(*) FROM want), "
                "(SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)), "
                "(SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))"
            ).fetchone()
            if extra or missing:
                bad.append(f"point_in_cap_join: {extra} unexpected, {missing} missing rows")
            self.expected["point_in_cap_join"] = n_want
            # loop join: row-exact on a point sample (the brute-force
            # parity oracle is points x edges); the full count has no
            # affordable oracle, so every timed step must repeat the
            # checked step's count
            keys = (self.key0 + rng.choice(REGION_POINTS, SAMPLE_POINTS, replace=False)).tolist()
            in_list = ", ".join(map(str, keys))
            want = con.execute(O.pip_loop_sql(
                f"pts AS (SELECT * FROM points WHERE key IN ({in_list}))",
                R.loop_edges_sql_values(self.loops),
            )).fetchall()
            got = con.execute(
                f"SELECT key, region_id FROM point_in_loop_join WHERE key IN ({in_list})"
            ).fetchall()
            bad += _mismatch("point_in_loop_join sample", got, want)
            self.expected["point_in_loop_join"] = first_rows.get("point_in_loop_join", -1)
            # kNN: k rows per query in full, row-exact on a query sample
            qkeys = (self.key0 + REGION_POINTS
                     + rng.choice(KNN_QUERIES, SAMPLE_QUERIES, replace=False)).tolist()
            q_in = ", ".join(map(str, qkeys))
            qcte = f"qpts AS (SELECT * FROM queries WHERE key IN ({q_in}))"
            icte = "ipts AS (SELECT * FROM index)"
            for name, sql in (("knn_join", KNN.knn_oracle_sql(qcte, icte, KNN_K)),
                              ("furthest_join", KNN.furthest_oracle_sql(qcte, icte, KNN_K))):
                want = con.execute(sql).fetchall()
                got = con.execute(
                    f"SELECT key, neighbor_key, dist2, rn FROM {name} WHERE key IN ({q_in})"
                ).fetchall()
                bad += _mismatch(f"{name} sample", got, want)
                self.expected[name] = KNN_QUERIES * KNN_K
        finally:
            con.close()
        return bad


WORKLOADS = {w.name: w for w in (IngestDedup, RegionKnn)}

