"""Embedding similarity search over the `embeddings` table
(vec_id, embedding float[64], label).

Four operators: exact ``cosine_topk`` (an n^2 cross join, the
correctness baseline), and the scale paths ``ann_lsh_topk`` and
``embed_near_dup`` (banded sign-LSH candidates over fixed literal
planes) and ``ann_ivf_topk`` (probed coarse-quantizer lists).  All
score pairs with one cosine (``_cosine``, oracle ``_COS_DUCK``) and
the top-k ones rank with one window (``_top_k``, ``_top_k_sql``).  The
64-term dot product is one chunked left-associative sum per engine,
``_scalar_dot`` (Spark), ``_dot_duck`` (DuckDB) and ``_chunked_dots``
(numpy), adding the same terms in the same order, so scores, LSH sign
bits and IVF probe ranks are bit-identical to the oracle.  Spark and
oracle helpers stay apart so one bug cannot match itself.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .banded_join import banded_self_join

DIM = 64
N_PLANES = 8
_PLANE_SEED = 20260816


CHUNK = 16  # partial-sum width: keeps each codegen'd expression small


def _dot_duck(a: str, b) -> str:
    """DuckDB dot product of array column ``a`` with ``b``, an array
    column or a literal DIM-vector: CHUNK-term partial sums, each and
    then all added left-assoc (the association tree of every engine)."""
    if isinstance(b, str):
        rhs = [f"CAST({b}[{i + 1}] AS DOUBLE)" for i in range(DIM)]
    else:
        rhs = [f"CAST('{float(v)!r}' AS DOUBLE)" for v in b]
    partials = []
    for lo in range(0, DIM, CHUNK):
        terms = " + ".join(
            f"CAST({a}[{i + 1}] AS DOUBLE) * {rhs[i]}"
            for i in range(lo, lo + CHUNK)
        )
        partials.append(f"({terms})")
    return " + ".join(partials)


def _nrm_cte(table: str) -> str:
    norm = f"sqrt({_dot_duck('embedding', 'embedding')})"
    return f"nrm AS (SELECT vec_id, embedding, {norm} AS nrm FROM {table})"


# oracle cosine of the pair (a, b) joined from the ``nrm`` CTE
_COS_DUCK = f"({_dot_duck('a.embedding', 'b.embedding')}) / (a.nrm * b.nrm)"
# the candidate-pair form of the oracle's scoring join
_CAND_NRM = """FROM cand JOIN nrm a ON a.vec_id = cand.qid
            JOIN nrm b ON b.vec_id = cand.nid"""


def _top_k_sql(
    ctes: str, table: str, k: int,
    q: str = "cand.qid", n: str = "cand.nid", pairs_from: str = _CAND_NRM,
) -> str:
    """Oracle tail of every top-k operator: score the (q, n) pairs of
    ``pairs_from`` and keep each vec_id's k best by
    (cosine DESC, neighbor_id).  ``ctes`` are the CTEs before ``nrm``."""
    return f"""
WITH {ctes}{_nrm_cte(table)},
pairs AS (
  SELECT {q} AS vec_id, {n} AS neighbor_id,
         {_COS_DUCK} AS cosine
  {pairs_from}
)
SELECT vec_id, neighbor_id, cosine, rn FROM (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM pairs
) WHERE rn <= {k}"""


def _scalar_dot(a_prefix: str, b_prefix: str) -> str:
    """Chunked dot product over the scalar columns of _components."""
    return " + ".join(
        "("
        + " + ".join(
            f"{a_prefix}{i} * {b_prefix}{i}" for i in range(lo, lo + CHUNK)
        )
        + ")"
        for lo in range(0, DIM, CHUNK)
    )


def _components(df: DataFrame, id_alias: str, prefix: str) -> DataFrame:
    """Pre-project the vector into 64 scalar DOUBLE columns + the norm:
    per-pair dot products then touch only scalar columns (whole-stage
    codegen; array element access per joined row is ~20x slower)."""
    cols = [F.col("vec_id").alias(id_alias)] + [
        F.expr(f"CAST(embedding[{i}] AS DOUBLE)").alias(f"{prefix}{i}")
        for i in range(DIM)
    ]
    return df.select(*cols).withColumn(
        f"{prefix}n", F.expr(f"sqrt({_scalar_dot(prefix, prefix)})")
    )


def _with_components(cand: DataFrame, emb: DataFrame) -> DataFrame:
    """Attach both sides' components to (qid, nid) candidate pairs."""
    qc = _components(emb, "qid", "q")
    ec = _components(emb, "nid", "e")
    return cand.join(qc, on="qid").join(ec, on="nid")


def _cosine() -> Column:
    """Cosine of a pair carrying both sides' components (q*, e*)."""
    return F.expr(f"({_scalar_dot('q', 'e')})") / (F.col("qn") * F.col("en"))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Each qid's k best pairs by (cosine desc, nid), renamed to
    (vec_id, neighbor_id, cosine, rn)."""
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col("nid"))
    return (
        pairs.withColumn("cosine", _cosine())
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


def cosine_topk(emb: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors per vector (self excluded).
    Output (vec_id, neighbor_id, cosine, rn) ordered by
    (cosine desc, neighbor_id)."""
    a = _components(emb, "qid", "q")
    b = _components(emb, "nid", "e")
    return _top_k(a.crossJoin(b).where(F.col("qid") != F.col("nid")), k)


def cosine_topk_sql(k: int, table: str = "embeddings") -> str:
    return _top_k_sql(
        "", table, k, "a.vec_id", "b.vec_id",
        "FROM nrm a CROSS JOIN nrm b WHERE a.vec_id != b.vec_id",
    )


N_BANDS = 4
BAND_BITS = 8


def lsh_planes(n_planes: int = N_PLANES) -> np.ndarray:
    """P deterministic hyperplanes (fixed seed); literals shared by the
    Spark plan and the SQL oracle."""
    rng = np.random.default_rng(_PLANE_SEED)
    return rng.standard_normal((n_planes, DIM))


def _bucket_expr_duck(col: str, planes: np.ndarray) -> str:
    bits = [
        f"(CASE WHEN ({_dot_duck(col, p)}) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    ]
    return " || ".join(bits)


def _lsh_cand_ctes(table: str, n_bands: int, band_bits: int) -> str:
    """Oracle sig/slim/cand CTEs (each vector's band keys, one row per
    band, the distinct directed pairs sharing a band key) and a comma."""
    bands = _band_planes(n_bands, band_bits)
    band_exprs = ", ".join(
        _bucket_expr_duck("embedding", bp) + f" AS band{b}"
        for b, bp in enumerate(bands)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS b, band{b} AS bk FROM sig"
        for b in range(n_bands)
    )
    return f"""sig AS (SELECT vec_id, {band_exprs} FROM {table}),
slim AS ({band_union}),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, c.vec_id AS nid
  FROM slim a JOIN slim c
    ON a.b = c.b AND a.bk = c.bk AND a.vec_id != c.vec_id
),
"""


def _band_planes(n_bands: int, band_bits: int) -> list[np.ndarray]:
    planes = lsh_planes(n_bands * band_bits)
    return [
        planes[b * band_bits : (b + 1) * band_bits] for b in range(n_bands)
    ]


def _chunked_dots(E: np.ndarray, W: np.ndarray) -> np.ndarray:
    """(N, DIM) vectors x (P, DIM) planes -> (N, P) dots, each element
    summed in _dot_duck's order: left-assoc partials of CHUNK terms,
    then the partials left-assoc — so sign bits and rank ties match
    the oracle's SQL expression tree bit for bit."""
    tot = None
    for lo in range(0, DIM, CHUNK):
        acc = E[:, lo, None] * W[:, lo]
        for i in range(lo + 1, lo + CHUNK):
            acc = acc + E[:, i, None] * W[:, i]
        tot = acc if tot is None else tot + acc
    return tot


def _band_rows(emb: DataFrame, bands: list[np.ndarray]) -> DataFrame:
    """(vec_id, allb, b, bk) band-signature rows via one Arrow pass.

    The generated-SQL form of 32 plane dots is a ~2000-term projection
    whose Janino compile time dwarfs the data at dim-table scale, so
    the dots run in numpy instead (_chunked_dots), keeping the sign
    bits (and hence bucket keys) bit-identical to the DuckDB oracle's
    expression tree."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    W = np.concatenate(bands)
    band_bits = len(bands[0])

    @pandas_udf(ArrayType(StringType()))
    def _keys(embedding: pd.Series) -> pd.Series:
        E = np.stack([np.asarray(v, dtype=np.float64) for v in embedding])
        bits = np.where(_chunked_dots(E, W) >= 0, "1", "0")
        # each row's band_bits one-char bits read as one string per band
        return pd.Series(bits.view(f"<U{band_bits}").tolist())

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


def _lsh_pairs(emb: DataFrame, n_bands: int, band_bits: int) -> DataFrame:
    """(qid, nid): every directed pair sharing a band key, once."""
    slim = _band_rows(emb, _band_planes(n_bands, band_bits))
    cand = banded_self_join(slim, "vec_id", True, band_bits, n_bands)
    return cand.toDF("qid", "nid")


def ann_lsh_topk(
    emb: DataFrame,
    k: int,
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
) -> DataFrame:
    """Approximate top-k via banded (OR-amplified) sign-LSH: a pair is
    a candidate when it collides in ANY of ``n_bands`` independent
    ``band_bits``-bit signatures — the standard recall amplifier over
    the single-signature AND form (match probability
    1 - (1 - s^bits)^bands for cosine-similarity angle fraction s).

    Scale shape mirrors the near-dup LSH join: candidate generation
    shuffles only (vec_id, band, bucket) rows through the skew-aware
    salted self-join (hot buckets spread over ``banded_join.SALT_G``
    reducers, see ``banded_join.banded_self_join``, which emits each
    pair once); the 64-dim scoring components attach once per candidate
    pair.  Recall floors are measured in tests/test_similarity_recall.py
    (>=0.9 on clustered corpora; the uniform-random table's analytic
    limit is documented there — no hash family beats brute force on data
    with no structure).
    """
    cand = _lsh_pairs(emb, n_bands, band_bits)
    return _top_k(_with_components(cand, emb), k)


def ann_lsh_topk_sql(
    k: int,
    table: str = "embeddings",
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
) -> str:
    return _top_k_sql(_lsh_cand_ctes(table, n_bands, band_bits), table, k)


def embed_near_dup(
    emb: DataFrame,
    threshold: float = 0.92,
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
) -> DataFrame:
    """Embedding-cosine near-duplicate grouping (the embedding-space
    twin of ``textops.near_dup_pairs``): candidates from the banded
    sign-LSH self-join, scored with the exact shared-literal dot
    product, thresholded at ``threshold``, then each vector folded to
    its canonical representative ``dup_root`` = min(vec_id) over
    itself and its above-threshold neighbors.

    Output (vec_id, dup_root, n_nbrs, is_dup): ``is_dup`` rows are the
    ones a dedup pass would drop (root survives).

    Scale shape: the candidates and scoring of ``ann_lsh_topk`` (hot
    buckets of boilerplate embeddings spread over ``banded_join.SALT_G``
    reducers), then one map-side-combinable min/count agg on vec_id.  No
    cross join at any width; candidate volume is governed by the LSH
    family, not n^2.
    """
    cand = _lsh_pairs(emb, n_bands, band_bits)
    nbrs = (
        _with_components(cand, emb)
        .withColumn("cosine", _cosine())
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
    return f"""
WITH {_lsh_cand_ctes(table, n_bands, band_bits)}{_nrm_cte(table)},
nbrs AS (
  SELECT cand.qid, cand.nid
  {_CAND_NRM}
  WHERE {_COS_DUCK} >= {float(threshold)!r}
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
    (dot DESC, index ASC).  The dots are _chunked_dots, bit-equal to
    the oracle's SQL expression tree — which makes the numpy argsort
    emit the exact ranks the oracle's row_number() window computes,
    without a Spark window exchange."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.array(cents, dtype=np.float64)

    @pandas_udf(ArrayType(IntegerType()))
    def _probes(embedding: pd.Series) -> pd.Series:
        E = np.stack([np.asarray(v, dtype=np.float64) for v in embedding])
        # stable argsort on -dot: ties resolve to the lower index,
        # identical to ORDER BY cdot DESC, c
        order = np.argsort(-_chunked_dots(E, C), axis=1, kind="stable")
        return pd.Series(order[:, :n_probe].tolist())

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
    return _top_k(_with_components(cand, emb), k)


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
    cdot_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, {c} AS c, "
        f"({_dot_duck('embedding', cents[c])}) AS cdot FROM {table}"
        for c in range(n_centroids)
    )
    return _top_k_sql(
        f"""dots AS ({cdot_union}),
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
""",
        table,
        k,
    )
