"""Embedding similarity search over the `embeddings` table
(vec_id, embedding float[64], label).

Two paths (SURVEY-mandated ANN component of the training-data suite):
- ``cosine_topk``   — exact brute-force top-k (the correctness
  baseline; O(n^2) cross join, fine for dim tables / oracle scale).
- ``ann_lsh_topk``  — random-hyperplane LSH buckets (sign-bit
  signature over P fixed literal planes) + top-k within bucket: the
  100-TB path (bucket equi-join replaces the n^2 cross join).

Both are pure JVM column arithmetic: the 64-term dot product is
generated as an explicit left-associative expression, identical
(term-for-term, cast-for-cast) to the DuckDB SQL the oracle runs, so
cosine scores and orderings are bit-identical.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .banded_join import HOT_BUCKET, SALT_G, banded_self_join

DIM = 64
N_PLANES = 8
_PLANE_SEED = 20260816


CHUNK = 16  # partial-sum width: keeps each codegen'd expression small


def _dot_terms_duck(a: str, b: str) -> str:
    """Chunked dot product in DuckDB SQL: 4 partial sums of 16 terms,
    combined left-assoc — the SAME association tree as _scalar_dot, so
    both engines produce bit-identical doubles."""
    partials = []
    for lo in range(0, DIM, CHUNK):
        terms = " + ".join(
            f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
            for i in range(lo, lo + CHUNK)
        )
        partials.append(f"({terms})")
    return " + ".join(partials)


def _components(df: DataFrame, id_alias: str, prefix: str) -> DataFrame:
    """Pre-project the vector into 64 scalar DOUBLE columns + the norm:
    per-pair dot products then touch only scalar columns (whole-stage
    codegen; array element access per joined row is ~20x slower)."""
    cols = [F.col("vec_id").alias(id_alias)] + [
        F.expr(f"CAST(embedding[{i}] AS DOUBLE)").alias(f"{prefix}{i}")
        for i in range(DIM)
    ]
    norm_terms = " + ".join(
        "("
        + " + ".join(
            f"{prefix}{i} * {prefix}{i}" for i in range(lo, lo + CHUNK)
        )
        + ")"
        for lo in range(0, DIM, CHUNK)
    )
    return df.select(*cols).withColumn(
        f"{prefix}n", F.expr(f"sqrt({norm_terms})")
    )


def _scalar_dot(a_prefix: str, b_prefix: str) -> str:
    return " + ".join(
        "("
        + " + ".join(
            f"{a_prefix}{i} * {b_prefix}{i}" for i in range(lo, lo + CHUNK)
        )
        + ")"
        for lo in range(0, DIM, CHUNK)
    )


def cosine_topk(emb: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors per vector (self excluded).
    Output (vec_id, neighbor_id, cosine, rn) ordered by
    (cosine desc, neighbor_id)."""
    a = _components(emb, "qid", "q")
    b = _components(emb, "nid", "e")
    pairs = a.crossJoin(b).where(F.col("qid") != F.col("nid"))
    cos = F.expr(f"({_scalar_dot('q', 'e')})") / (F.col("qn") * F.col("en"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col("nid"))
    return (
        pairs.withColumn("cosine", cos)
        .select("qid", "nid", "cosine")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nid").alias("neighbor_id"),
            "cosine",
            "rn",
        )
    )


def cosine_topk_sql(k: int, table: str = "embeddings") -> str:
    dot = _dot_terms_duck("a.embedding", "b.embedding")
    norm = _dot_terms_duck("embedding", "embedding")
    return f"""
WITH nrm AS (SELECT vec_id, embedding, sqrt({norm}) AS nrm FROM {table}),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         ({dot}) / (a.nrm * b.nrm) AS cosine
  FROM nrm a CROSS JOIN nrm b WHERE a.vec_id != b.vec_id
)
SELECT vec_id, neighbor_id, cosine, rn FROM (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM pairs
) WHERE rn <= {k}"""


N_BANDS = 4
BAND_BITS = 8


def lsh_planes(n_planes: int = N_PLANES) -> np.ndarray:
    """P deterministic hyperplanes (fixed seed); literals shared by the
    Spark plan and the SQL oracle."""
    rng = np.random.default_rng(_PLANE_SEED)
    return rng.standard_normal((n_planes, DIM))


def _plane_dot(col: str, p: np.ndarray, one_based: bool) -> str:
    off = 1 if one_based else 0
    partials = []
    for lo in range(0, DIM, CHUNK):
        terms = " + ".join(
            f"CAST({col}[{i + off}] AS DOUBLE) * CAST('{float(p[i])!r}' AS DOUBLE)"
            for i in range(lo, lo + CHUNK)
        )
        partials.append(f"({terms})")
    return " + ".join(partials)


def _bucket_expr_duck(col: str, planes: np.ndarray) -> str:
    bits = [
        f"(CASE WHEN ({_plane_dot(col, p, True)}) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    ]
    return " || ".join(bits)


def _band_planes(n_bands: int, band_bits: int) -> list[np.ndarray]:
    planes = lsh_planes(n_bands * band_bits)
    return [
        planes[b * band_bits : (b + 1) * band_bits] for b in range(n_bands)
    ]


def _band_rows(emb: DataFrame, bands: list[np.ndarray]) -> DataFrame:
    """(vec_id, b, bk) band-signature rows via one Arrow pass.

    The generated-SQL form of 32 plane dots is a ~2000-term projection
    whose Janino compile time dwarfs the data at dim-table scale, so
    the dots run in numpy instead — with the sums accumulated in the
    exact chunked left-associative order of _plane_dot, keeping the
    sign bits (and hence bucket keys) bit-identical to the DuckDB
    oracle's expression tree."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    planes = [p.copy() for p in bands]

    @pandas_udf(ArrayType(StringType()))
    def _keys(embedding: pd.Series) -> pd.Series:
        E = np.stack(
            [np.asarray(v, dtype=np.float64) for v in embedding]
        )
        out_bits = []
        for bp in planes:
            band_strs = None
            for p in bp:
                # chunked left-assoc: partials of CHUNK terms, then
                # left-assoc partial sum — mirrors _plane_dot exactly
                partials = []
                for lo in range(0, DIM, CHUNK):
                    acc = E[:, lo] * p[lo]
                    for i in range(lo + 1, lo + CHUNK):
                        acc = acc + E[:, i] * p[i]
                    partials.append(acc)
                tot = partials[0]
                for q in partials[1:]:
                    tot = tot + q
                bit = np.where(tot >= 0, "1", "0")
                band_strs = bit if band_strs is None else np.char.add(band_strs, bit)
            out_bits.append(band_strs)
        return pd.Series(
            [[out_bits[b][r] for b in range(len(planes))] for r in range(len(E))]
        )

    sigs = emb.select(F.col("vec_id"), _keys(F.col("embedding")).alias("bks"))
    # materialize once: both sides of the candidate self-join read it.
    # allb (all band keys, fixed-width concat) rides along so the
    # candidate join can keep each pair only at its first matching
    # band (banded_join.first_match_band) instead of a pair-volume
    # dedup shuffle.
    return sigs.select(
        "vec_id",
        F.array_join(F.col("bks"), "").alias("allb"),
        F.posexplode(F.col("bks")).alias("b", "bk"),
    ).localCheckpoint()


def ann_lsh_topk(
    emb: DataFrame,
    k: int,
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
    hot_bucket_threshold: int = HOT_BUCKET,
    salt_g: int = SALT_G,
) -> DataFrame:
    """Approximate top-k via banded (OR-amplified) sign-LSH: a pair is
    a candidate when it collides in ANY of ``n_bands`` independent
    ``band_bits``-bit signatures — the standard recall amplifier over
    the single-signature AND form (match probability
    1 - (1 - s^bits)^bands for cosine-similarity angle fraction s).

    Scale shape mirrors the near-dup LSH join: candidate generation
    shuffles only (vec_id, band, bucket) rows through the skew-aware
    salted self-join (hot buckets spread over ``salt_g`` reducers, see
    ``banded_join.banded_self_join``); pairs dedup before the 64-dim scoring
    components re-attach once.  Recall floors are
    measured in tests/test_similarity_recall.py (>=0.9 on clustered
    corpora; the uniform-random table's analytic limit is documented
    there — no hash family beats brute force on data with no structure).
    """
    bands = _band_planes(n_bands, band_bits)
    slim = _band_rows(emb, bands)
    cand = banded_self_join(
        slim, "vec_id", True, band_bits, n_bands, hot_bucket_threshold, salt_g
    ).toDF("qid", "nid")
    qc = _components(emb, "qid", "q")
    ec = _components(emb, "nid", "e")
    pairs = cand.join(qc, on="qid").join(ec, on="nid")
    cos = F.expr(f"({_scalar_dot('q', 'e')})") / (F.col("qn") * F.col("en"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col("nid"))
    return (
        pairs.withColumn("cosine", cos)
        .select("qid", "nid", "cosine")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nid").alias("neighbor_id"),
            "cosine",
            "rn",
        )
    )


def ann_lsh_topk_sql(
    k: int,
    table: str = "embeddings",
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
) -> str:
    bands = _band_planes(n_bands, band_bits)
    dot = _dot_terms_duck("a.embedding", "b.embedding")
    norm = _dot_terms_duck("embedding", "embedding")
    band_exprs = ", ".join(
        _bucket_expr_duck("embedding", bp) + f" AS band{b}"
        for b, bp in enumerate(bands)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS b, band{b} AS bk FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH sig AS (SELECT vec_id, {band_exprs} FROM {table}),
slim AS ({band_union}),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, c.vec_id AS nid
  FROM slim a JOIN slim c
    ON a.b = c.b AND a.bk = c.bk AND a.vec_id != c.vec_id
),
nrm AS (SELECT vec_id, embedding, sqrt({norm}) AS nrm FROM {table}),
pairs AS (
  SELECT cand.qid AS vec_id, cand.nid AS neighbor_id,
         ({dot}) / (a.nrm * b.nrm) AS cosine
  FROM cand JOIN nrm a ON a.vec_id = cand.qid
            JOIN nrm b ON b.vec_id = cand.nid
)
SELECT vec_id, neighbor_id, cosine, rn FROM (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM pairs
) WHERE rn <= {k}"""


def embed_near_dup(
    emb: DataFrame,
    threshold: float = 0.92,
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
    hot_bucket_threshold: int = HOT_BUCKET,
    salt_g: int = SALT_G,
) -> DataFrame:
    """Embedding-cosine near-duplicate grouping (the embedding-space
    twin of ``textops.near_dup_pairs``): candidates from the banded
    sign-LSH self-join, scored with the exact shared-literal dot
    product, thresholded at ``threshold``, then each vector folded to
    its canonical representative ``dup_root`` = min(vec_id) over
    itself and its above-threshold neighbors.

    Output (vec_id, dup_root, n_nbrs, is_dup): ``is_dup`` rows are the
    ones a dedup pass would drop (root survives).

    Scale shape: identical to ``ann_lsh_topk`` — the self-join touches
    only slim (vec_id, band, bucket) rows through the skew-aware salted
    form (``banded_join.banded_self_join``; hot buckets of boilerplate
    embeddings spread over ``salt_g`` reducers instead of one), pairs
    dedup before the 64-float components attach, and the final fold is
    a single map-side-combinable min/count agg on vec_id.  No cross
    join at any width; candidate volume is governed by the LSH family,
    not n^2.
    """
    bands = _band_planes(n_bands, band_bits)
    slim = _band_rows(emb, bands)
    cand = banded_self_join(
        slim, "vec_id", True, band_bits, n_bands, hot_bucket_threshold, salt_g
    ).toDF("qid", "nid")
    qc = _components(emb, "qid", "q")
    ec = _components(emb, "nid", "e")
    cos = F.expr(f"({_scalar_dot('q', 'e')})") / (F.col("qn") * F.col("en"))
    nbrs = (
        cand.join(qc, on="qid")
        .join(ec, on="nid")
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= F.lit(float(threshold)))
        .select("qid", "nid")
    )
    ids = emb.select(F.col("vec_id").alias("qid"))
    folded = (
        ids.join(nbrs, on="qid", how="left")
        .groupBy("qid")
        .agg(
            F.least(
                F.col("qid"), F.coalesce(F.min("nid"), F.col("qid"))
            ).alias("dup_root"),
            F.count("nid").alias("n_nbrs"),
        )
    )
    return folded.select(
        F.col("qid").alias("vec_id"),
        "dup_root",
        "n_nbrs",
        (F.col("dup_root") < F.col("qid")).alias("is_dup"),
    )


def embed_near_dup_sql(
    threshold: float = 0.92,
    table: str = "embeddings",
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
) -> str:
    """DuckDB oracle mirroring embed_near_dup: the identical literal
    plane family, band bucketing, shared-association dot product, and
    min-root fold."""
    bands = _band_planes(n_bands, band_bits)
    dot = _dot_terms_duck("a.embedding", "b.embedding")
    norm = _dot_terms_duck("embedding", "embedding")
    band_exprs = ", ".join(
        _bucket_expr_duck("embedding", bp) + f" AS band{b}"
        for b, bp in enumerate(bands)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS b, band{b} AS bk FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH sig AS (SELECT vec_id, {band_exprs} FROM {table}),
slim AS ({band_union}),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, c.vec_id AS nid
  FROM slim a JOIN slim c
    ON a.b = c.b AND a.bk = c.bk AND a.vec_id != c.vec_id
),
nrm AS (SELECT vec_id, embedding, sqrt({norm}) AS nrm FROM {table}),
nbrs AS (
  SELECT cand.qid, cand.nid
  FROM cand JOIN nrm a ON a.vec_id = cand.qid
            JOIN nrm b ON b.vec_id = cand.nid
  WHERE ({dot}) / (a.nrm * b.nrm) >= {float(threshold)!r}
),
folded AS (
  SELECT t.vec_id AS qid,
         least(t.vec_id, coalesce(min(n.nid), t.vec_id)) AS dup_root,
         count(n.nid) AS n_nbrs
  FROM {table} t LEFT JOIN nbrs n ON n.qid = t.vec_id
  GROUP BY t.vec_id
)
SELECT qid AS vec_id, dup_root, n_nbrs,
       (dup_root < qid) AS is_dup
FROM folded"""


# ---------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------

IVF_C_MIN = 8       # floor on coarse centroids (lists)
IVF_C_MAX = 256     # cap (list metadata stays broadcast-sized)
IVF_PROBE = 2       # lists probed per query
IVF_ITERS = 10      # fixed Lloyd iterations (determinism)


def ivf_num_centroids(sf_dir: str) -> int:
    """List count ~ sqrt(N) (rounded to a power of two), clamped to
    [IVF_C_MIN, IVF_C_MAX]: candidate work is O(n_probe * N^2 / C), so
    a fixed C is quadratic at scale while C ~ sqrt(N) keeps the
    probe-join linear-ish.  Derived from parquet metadata (row count
    only — no data read), identically on the Spark and oracle sides."""
    if sf_dir is None:
        raise ValueError("ivf_num_centroids needs sf_dir")
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    c = 2 ** int(round(math.log2(max(1.0, math.sqrt(n)))))
    return min(IVF_C_MAX, max(IVF_C_MIN, c))


def ivf_centroids(sf_dir: str, n_centroids: int = None) -> np.ndarray:
    """Deterministic spherical k-means on a bounded head sample of the
    embeddings table (first ``IVF_TRAIN_N`` rows by vec_id) — the
    offline train-on-sample step every IVF index uses at scale; the
    resulting (C, DIM) float64 centroids are broadcast literals shared
    verbatim by the Spark plan and the DuckDB oracle.

    Determinism: fixed init (first C sample vectors), fixed iteration
    count, argmax assignment with lowest-index ties, empty lists keep
    their previous centroid.
    """
    if sf_dir is None:
        raise ValueError("ivf_centroids needs sf_dir (the table to train on)")
    import pyarrow.parquet as pq

    if n_centroids is None:
        n_centroids = ivf_num_centroids(sf_dir)
    train_n = max(512, 8 * n_centroids)
    pf = pq.ParquetFile(f"{sf_dir}/embeddings.parquet")
    rows = []
    for batch in pf.iter_batches(columns=["vec_id", "embedding"]):
        rows.append(batch.to_pandas())
        if sum(len(r) for r in rows) >= train_n:
            break
    pdf = pd.concat(rows).sort_values("vec_id").head(train_n)
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cents = Xn[:n_centroids].copy()
    for _ in range(IVF_ITERS):
        dots = Xn @ cents.T                       # (N, C)
        assign = np.argmax(dots, axis=1)          # lowest index on ties
        for c in range(n_centroids):
            members = Xn[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def _ivf_probe_rows(
    emb: DataFrame, cents: np.ndarray, n_probe: int
) -> DataFrame:
    """(vec_id, rk, c): each vector's centroids ranked 1..n_probe by
    (dot DESC, index ASC).  The dots use the chunked left-associative
    accumulation of _plane_dot so they match the oracle's SQL
    expression tree bit for bit — which makes the numpy argsort emit
    the exact ranks the oracle's row_number() window computes, without
    a Spark window exchange."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    C = [c.copy() for c in cents]

    @pandas_udf(ArrayType(IntegerType()))
    def _probes(embedding: pd.Series) -> pd.Series:
        E = np.stack([np.asarray(v, dtype=np.float64) for v in embedding])
        outs = []
        for cv in C:
            partials = []
            for lo in range(0, DIM, CHUNK):
                acc = E[:, lo] * cv[lo]
                for i in range(lo + 1, lo + CHUNK):
                    acc = acc + E[:, i] * cv[i]
                partials.append(acc)
            tot = partials[0]
            for q in partials[1:]:
                tot = tot + q
            outs.append(tot)
        M = np.stack(outs, axis=1)  # (N, C)
        # stable argsort on -dot: ties resolve to the lower index,
        # identical to ORDER BY cdot DESC, c
        order = np.argsort(-M, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.tolist() for row in order])

    return emb.select(
        "vec_id", F.posexplode(_probes(F.col("embedding"))).alias("rk0", "c")
    ).select("vec_id", (F.col("rk0") + 1).alias("rk"), "c")


def ann_ivf_topk(
    emb: DataFrame,
    k: int,
    sf_dir: str = None,
    n_centroids: int = None,
    n_probe: int = IVF_PROBE,
    centroids: np.ndarray = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k: every vector is assigned to its
    nearest coarse centroid (its inverted list); a query probes its
    ``n_probe`` nearest lists and reranks candidates with the exact
    shared-literal cosine.  Output (vec_id, neighbor_id, cosine, rn).

    Scale shape: training is an offline driver-side pass over a bounded
    sample (the universal IVF recipe); assignment is one Arrow-batched
    matmul against broadcast centroids — no shuffle; the candidate join
    is a slim (vec_id, list) equi-join whose fan-out is bounded by
    n_probe x list size, replacing the n^2 cross join; rerank attaches
    the 64-float components once per surviving pair.
    """
    if centroids is None and sf_dir is None:
        raise ValueError(
            "ann_ivf_topk needs either precomputed centroids= or "
            "sf_dir= to train them from the embeddings table"
        )
    cents = centroids if centroids is not None else ivf_centroids(
        sf_dir, n_centroids
    )
    ranked = _ivf_probe_rows(emb, cents, n_probe).localCheckpoint()
    assign = ranked.where(F.col("rk") == 1).select(
        F.col("vec_id").alias("nid"), F.col("c").alias("list_id")
    )
    probes = ranked.select(
        F.col("vec_id").alias("qid"), F.col("c").alias("list_id")
    )
    cand = probes.join(assign, on="list_id").where(
        F.col("qid") != F.col("nid")
    ).select("qid", "nid")
    qc = _components(emb, "qid", "q")
    ec = _components(emb, "nid", "e")
    cos = F.expr(f"({_scalar_dot('q', 'e')})") / (F.col("qn") * F.col("en"))
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col("nid"))
    return (
        cand.join(qc, on="qid")
        .join(ec, on="nid")
        .withColumn("cosine", cos)
        .select("qid", "nid", "cosine")
        .withColumn("rn", F.row_number().over(wk).cast("long"))
        .where(F.col("rn") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nid").alias("neighbor_id"),
            "cosine",
            "rn",
        )
    )


def _centroid_dot_duck(col: str, cv: np.ndarray) -> str:
    partials = []
    for lo in range(0, DIM, CHUNK):
        terms = " + ".join(
            f"CAST({col}[{i + 1}] AS DOUBLE) * CAST('{float(cv[i])!r}' AS DOUBLE)"
            for i in range(lo, lo + CHUNK)
        )
        partials.append(f"({terms})")
    return " + ".join(partials)


def ann_ivf_topk_sql(
    k: int,
    sf_dir: str,
    table: str = "embeddings",
    n_centroids: int = None,
    n_probe: int = IVF_PROBE,
) -> str:
    """DuckDB oracle: identical centroid literals, dot expression tree,
    rank/probe rules and rerank ordering as ann_ivf_topk."""
    if n_centroids is None:
        n_centroids = ivf_num_centroids(sf_dir)
    cents = ivf_centroids(sf_dir, n_centroids)
    dot = _dot_terms_duck("a.embedding", "b.embedding")
    norm = _dot_terms_duck("embedding", "embedding")
    cdot_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, {c} AS c, "
        f"({_centroid_dot_duck('embedding', cents[c])}) AS cdot FROM {table}"
        for c in range(n_centroids)
    )
    return f"""
WITH dots AS ({cdot_union}),
ranked AS (
  SELECT vec_id, c,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, c) AS rk
  FROM dots
),
assign AS (SELECT vec_id AS nid, c AS list_id FROM ranked WHERE rk = 1),
probes AS (SELECT vec_id AS qid, c AS list_id FROM ranked
           WHERE rk <= {n_probe}),
cand AS (
  SELECT p.qid, a.nid FROM probes p JOIN assign a USING (list_id)
  WHERE p.qid != a.nid
),
nrm AS (SELECT vec_id, embedding, sqrt({norm}) AS nrm FROM {table}),
pairs AS (
  SELECT cand.qid AS vec_id, cand.nid AS neighbor_id,
         ({dot}) / (a.nrm * b.nrm) AS cosine
  FROM cand JOIN nrm a ON a.vec_id = cand.qid
            JOIN nrm b ON b.vec_id = cand.nid
)
SELECT vec_id, neighbor_id, cosine, rn FROM (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM pairs
) WHERE rn <= {k}"""
