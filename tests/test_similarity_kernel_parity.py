"""Kernel parity at the numpy/SQL boundary of the embedding operators.

The Spark plans compute the LSH plane dots (``_band_rows``) and the IVF
centroid dots (``_ivf_probe_rows``) in numpy inside one Arrow pass; the
DuckDB oracle computes them as SQL expression trees.  Band keys and
probe ranks must agree vector by vector, also on the inputs where a
float-order or tie-break slip shows: a zero vector, plane dots of
exactly -0.0 and +0.0, vectors whose sign depends on how the chunked
partial sums associate, and duplicated centroids (exact rank ties).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import types as T

from s2geometry_spark.operators import similarity as SIM

DIM = SIM.DIM
BIG = 2.0**80  # a power of two: scaling by it is exact


def _planes() -> np.ndarray:
    return np.concatenate(SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS))


def _vectors() -> np.ndarray:
    planes = _planes()
    rng = np.random.default_rng(20261019)
    # float32-rounded like the embeddings table
    vs = list(rng.standard_normal((200, DIM)).astype(np.float32))
    vs.append(np.zeros(DIM))  # every dot is +0.0
    p = planes[0]
    # each term e_i * p_i is -0.0, so the dot with plane 0 is -0.0
    vs.append(np.where(p > 0, -0.0, 0.0))
    q = planes[5]
    # two non-zero terms that cancel exactly: a dot of +0.0 with plane 5
    e = np.zeros(DIM)
    e[3], e[7] = q[7], -q[3]
    vs.append(e)
    r = planes[9]
    # chunk 0 and chunk 1 cancel, chunk 2 adds a small negative term:
    # ((P0 + P1) + P2) + P3 is negative, P0 + (P1 + (P2 + P3)) is 0
    e = np.zeros(DIM)
    e[0], e[16], e[32] = r[16] * BIG, -r[0] * BIG, -np.sign(r[32])
    vs.append(e)
    # a small negative term in chunk 0, then two cancelling large terms
    # in chunk 1: the chunked sum is negative, one flat running sum is 0
    e = np.zeros(DIM)
    e[0], e[16], e[17] = -np.sign(r[0]), r[17] * BIG, -r[16] * BIG
    vs.append(e)
    return np.array(vs, dtype=np.float64)


def _centroids() -> np.ndarray:
    rng = np.random.default_rng(7)
    a, b, c, d = rng.standard_normal((4, DIM))
    # plane 9 (dot sign depends on association), duplicated rows (exact
    # ties), and a zero centroid (a +0.0 dot with every vector)
    return np.array([_planes()[9], a, a, np.zeros(DIM), b, c, c, d])


@pytest.fixture(scope="module")
def vecs(spark):
    V = _vectors()
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(V)]
    emb = spark.createDataFrame(rows, schema)
    con = duckdb.connect()
    con.execute("CREATE TABLE vecs (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO vecs VALUES (?, ?)", rows)
    yield emb, con
    con.close()


def _chunk_sums(t: np.ndarray) -> list[float]:
    return [sum(t[lo : lo + SIM.CHUNK]) for lo in range(0, DIM, SIM.CHUNK)]


def test_crafted_vectors_hit_the_edge_cases():
    """The crafted dots really are -0.0, +0.0 and association-bound."""
    V, planes = _vectors(), _planes()
    t = V[201] * planes[0]
    assert not t.any() and np.all(np.signbit(t))
    assert np.signbit(sum(t, -0.0))
    assert sum(V[202] * planes[5]) == 0.0
    p0, p1, p2, p3 = _chunk_sums(V[203] * planes[9])
    assert ((p0 + p1) + p2) + p3 < 0
    assert p0 + (p1 + (p2 + p3)) == 0
    t = V[204] * planes[9]
    p0, p1, p2, p3 = _chunk_sums(t)
    assert ((p0 + p1) + p2) + p3 < 0
    assert sum(t) == 0


def test_band_keys_match_duckdb(vecs):
    emb, con = vecs
    bands = SIM._band_planes(SIM.N_BANDS, SIM.BAND_BITS)
    got = sorted(
        (r["vec_id"], r["b"], r["bk"])
        for r in SIM._band_rows(emb, bands).collect()
    )
    cols = ", ".join(
        f"{SIM._bucket_expr_duck('embedding', bp)} AS band{b}"
        for b, bp in enumerate(bands)
    )
    rows = con.execute(f"SELECT vec_id, {cols} FROM vecs").fetchall()
    want = sorted(
        (vid, b, bk) for vid, *bks in rows for b, bk in enumerate(bks)
    )
    assert len(got) == len(_vectors()) * SIM.N_BANDS
    assert got == want


def test_probe_ranks_match_duckdb_ranked_cte(vecs, monkeypatch):
    emb, con = vecs
    cents = _centroids()
    n = len(cents)
    got = sorted(
        (r["vec_id"], r["rk"], r["c"])
        for r in SIM._ivf_probe_rows(emb, cents, n).collect()
    )
    monkeypatch.setattr(SIM, "ivf_centroids", lambda sf_dir, n_c: cents)
    sql = SIM.ann_ivf_topk_sql(1, None, "vecs", n_centroids=n, n_probe=n)
    ranked = sql[: sql.index(",\nassign AS")] + (
        "\nSELECT vec_id, rk, c FROM ranked"
    )
    want = sorted(tuple(r) for r in con.execute(ranked).fetchall())
    assert len(got) == len(_vectors()) * n
    assert got == want
