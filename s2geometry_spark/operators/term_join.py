"""Inverted-index spatial retrieval via S2RegionTermIndexer terms.

Reference semantics: Index/S2RegionTermIndexer.cs — documents (points)
are indexed under ancestor string terms, queries (regions) expand to
ancestor + covering query terms, and the term-set intersection is a
guaranteed candidate superset of the true matches (S2RegionTermIndexer
.cs:74-78); an exact refine follows.

This is the text-inverted-index shape of the covering join (the raw
cell-id equi-join in spatial_join is the cheaper binary twin): the
document side explodes to index terms once at ingest, the query side
broadcasts its query terms, and retrieval is a string equi-join —
exactly how the reference integrates with search indexes.  The refine
predicate is bit-identical to the brute-force oracle, so missing ANY
candidate (an indexer bug) fails the correctness gate, not just a
recall metric.
"""

from __future__ import annotations

from dataclasses import replace

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..kernels.term_indexer import TermOptions, region_query_terms
from .spatial_join import (
    cap_refine_predicate,
    normalized_cols,
    typed_cov_df,
    with_cap_params,
)


def point_index_terms_udf(opts: TermOptions):
    """UDF factory: leaf cell id -> array of index terms.

    Vectorized per level (one parent + token pass over the whole Arrow
    batch per level) rather than per row — GetIndexTerms(point) with
    empty prefix is exactly the ancestor token at each configured
    level (kernels.term_indexer._term with covering=False)."""
    levels = list(
        range(opts.min_level, opts.max_level + 1, opts.level_mod)
    )

    @pandas_udf(ArrayType(StringType()))
    def _terms(cid: pd.Series) -> pd.Series:
        import numpy as np

        from ..kernels import cellid as C

        ids = cid.to_numpy().astype(np.int64).view(np.uint64)
        cols = [C.to_token(C.parent(ids, lv)) for lv in levels]
        return pd.Series([list(row) for row in zip(*cols)])

    return _terms


def term_index_cap_join(
    spark: SparkSession,
    points: DataFrame,
    caps: list,
    opts: TermOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """(point_key, region_id) pairs via term retrieval + exact refine;
    result equals the brute-force cap join row for row."""
    opts = opts or TermOptions()
    # the index side holds points only, so '$'-marked covering query
    # terms can never match an index term — generating them would ship
    # ~2x the broadcast rows for zero extra candidates
    # (Index/S2RegionTermIndexer.cs index_contains_points_only)
    qopts = replace(opts, index_contains_points_only=True)
    qrows = [
        (rid, t)
        for rid, cap in caps
        for t in sorted(set(region_query_terms(qopts, cap)))
    ]
    qterms = typed_cov_df(
        spark,
        with_cap_params(pd.DataFrame(qrows, columns=["region_id", "term"]), caps),
        "region_id",
        [rid for rid, _ in caps],
    )
    idx = normalized_cols(points).select(
        point_key,
        "ux",
        "uy",
        "uz",
        F.explode(
            point_index_terms_udf(opts)(F.col("cell_id"))
        ).alias("term"),
    )
    cand = idx.join(F.broadcast(qterms), "term")
    # index terms are one-per-level and query terms dedup'd, but a
    # region's covering can still match a point at several levels —
    # dedup (point, region) before the refine output
    refined = cand.where(cap_refine_predicate())
    return refined.select(F.col(point_key), F.col("region_id")).distinct()
