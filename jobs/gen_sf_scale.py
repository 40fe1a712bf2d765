"""Scale the synthetic star schema up by an integer factor for soak
runs (sf0.1 x10 -> "sf1", ~6M lineitem rows).

Fact-table keys shift per copy so every copy derives NEW deterministic
points (sources/points.py hashes the key); dimension tables (region,
nation) stay fixed so query semantics (25 nation regions, 5 regions)
are unchanged.  Document ids shift by 50_000 per copy (near-dup mutants use negated
ids, so no real-id band to avoid); each copy's text is identical,
which deliberately makes every document a 10-way exact/near duplicate
— a worst-case skew soak for the LSH banding path.

Usage:  python jobs/gen_sf_scale.py [src_dir] [dst_dir] [factor]
        python jobs/gen_sf_scale.py --skew [dst_dir]
Default: /root/testdata/sf0.1 -> <repo>/.soak/sf1 x10
         --skew -> <repo>/.soak/skew

The --skew mode writes the clustered/hot-key fixture: a point table
where 30% of rows carry the SAME geotag (the camera-default /
null-island pile-up every real photo corpus has — the worst hot-cell
case for the covering join's shuffle plan, checked against its
broadcast plan in tests/test_skew_fixture.py), an embedding table with
one boilerplate block sharing every sign-LSH band bucket (the
salted-vs-unsalted LSH A/B of bench.py --skew), and a document table
with one boilerplate text block sharing every minhash band.  All three
are seeded-deterministic.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

# (table, key columns to shift, per-copy stride)
PLAN = [
    ("lineitem", ["l_orderkey"], 10_000_000),
    ("orders", ["o_orderkey"], 10_000_000),
    ("supplier", ["s_suppkey"], 100_000),
    ("customer", ["c_custkey"], 10_000_000),
    ("part", ["p_partkey"], 10_000_000),
    ("events", ["event_id"], 100_000_000),
    ("documents", ["doc_id"], 50_000),
    ("embeddings", ["vec_id"], 100_000),
    ("nation", [], 0),  # dims: copy as-is
    ("region", [], 0),
]


def scale(src: str, dst: str, factor: int) -> None:
    os.makedirs(dst, exist_ok=True)
    for table, keys, stride in PLAN:
        src_path = f"{src}/{table}.parquet"
        dst_path = f"{dst}/{table}.parquet"
        if not keys or factor == 1:
            duckdb.sql(
                f"COPY (SELECT * FROM '{src_path}') TO '{dst_path}' "
                "(FORMAT PARQUET)"
            )
            continue
        cols = duckdb.sql(f"SELECT * FROM '{src_path}' LIMIT 0").columns
        parts = []
        for c in range(factor):
            shifted = ", ".join(
                f"({k} + {c * stride}) AS {k}" if k in keys else k
                for k in cols
            )
            parts.append(f"SELECT {shifted} FROM '{src_path}'")
        union = " UNION ALL ".join(parts)
        duckdb.sql(
            f"COPY ({union}) TO '{dst_path}' (FORMAT PARQUET)"
        )
        n = duckdb.sql(f"SELECT count(*) FROM '{dst_path}'").fetchone()[0]
        print(f"{table}: {n} rows")


# ---------------------------------------------------------------------
# Skewed fixture (bench.py --skew): hot cell + hot LSH buckets
# ---------------------------------------------------------------------

# Metro / default-geotag direction (unnormalized; normalized on use).
METRO_XYZ = (0.3, -0.5, 0.8)
METRO_REGION_ID = 1000
SKEW_SEED = 2026


def metro_center() -> tuple[float, float, float]:
    x, y, z = METRO_XYZ
    n = math.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def gen_skew(
    dst: str,
    n_points: int = 4_000_000,
    n_emb: int = 16_000,
    hot_emb: int = 6_000,
    n_docs: int = 12_000,
    hot_docs: int = 600,
) -> None:
    """Write the deterministic skewed tables under ``dst``.

    - points.parquet (key, x, y, z): key % 10 < 3 (30%) sits at the
      EXACT metro direction (one hot leaf cell -> one hot covering
      cell in the shuffle join); the rest derive uniform-ish directions
      via the sources/points.py multiplicative-hash formula.
    - embeddings.parquet (vec_id, embedding, label): vec_id < hot_emb
      are one identical unit vector (identical sign-LSH bucket in
      every band -> n_hot^2 candidate pairs per band bucket); the rest
      are seeded random unit vectors.  label 0 = hot, 1 = cold.
    - documents.parquet (doc_id, text, lang, source, n_chars): doc_id
      < hot_docs share one boilerplate text (one hot minhash band
      bucket); the rest get distinct seeded word soup.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    from s2geometry_spark.operators.similarity import DIM
    from s2geometry_spark.sources import points as P

    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(SKEW_SEED)

    # -- points --------------------------------------------------------
    key = np.arange(1, n_points + 1, dtype=np.int64)
    xyz = {}
    for axis in ("x", "y", "z"):
        m, p = P.MUL[axis], P.MOD[axis]
        # reduce mod p BEFORE multiplying, exactly like
        # points.component_col: key*m silently wraps int64 for keys
        # past ~2.8e9, diverging from the operators' derivation
        xyz[axis] = (key % p * m % p).astype(np.float64) / (p / 2.0) - 1.0
    hot_mask = key % 10 < 3
    mx, my, mz = metro_center()
    for axis, v in zip("xyz", (mx, my, mz)):
        xyz[axis][hot_mask] = v
    pq.write_table(
        pa.table({"key": key, "x": xyz["x"], "y": xyz["y"], "z": xyz["z"]}),
        f"{dst}/points.parquet",
    )

    # -- embeddings ----------------------------------------------------
    vecs = rng.standard_normal((n_emb, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    boiler = rng.standard_normal(DIM).astype(np.float32)
    boiler /= np.linalg.norm(boiler)
    vecs[:hot_emb] = boiler
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": (np.arange(n_emb) >= hot_emb).astype(np.int32),
            }
        ),
        f"{dst}/embeddings.parquet",
    )

    # -- documents -----------------------------------------------------
    boiler_text = (
        "terms of service all rights reserved copyright notice "
        "unsubscribe click here privacy policy cookie consent banner "
        "do not reply to this automatically generated message thanks"
    )
    words = rng.integers(0, 5000, size=(n_docs, 40))
    texts = [
        boiler_text
        if i < hot_docs
        else " ".join(f"w{v}" for v in words[i])
        for i in range(n_docs)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": ["en"] * n_docs,
                "source": ["synth-skew"] * n_docs,
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{dst}/documents.parquet",
    )
    for t in ("points", "embeddings", "documents"):
        n = duckdb.sql(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if "--skew" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--skew"]
        gen_skew(args[0] if args else os.path.join(repo, ".soak", "skew"))
        sys.exit(0)
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(repo, ".soak", "sf1")
    )
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    scale(src, dst, factor)
