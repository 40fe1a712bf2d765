"""Hot-band LSH skew: a boilerplate corpus (hundreds of identical
docs sharing every band) must complete with the partner-group salting
and produce the exact pair set."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.operators import banded_join as BJ
from s2geometry_spark.operators import textops as TX


def test_boilerplate_corpus_completes(spark):
    n_same, n_diff = 300, 50
    rows = [(i, "the same boilerplate paragraph repeated " * 4) for i in range(n_same)]
    rows += [
        (n_same + i, f"unique document number {i} with its own words {i*i}")
        for i in range(n_diff)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    pairs = TX.near_dup_pairs(docs, with_mutants=False).collect()
    same_pairs = [
        r for r in pairs if r["id_a"] < n_same and r["id_b"] < n_same
    ]
    # all C(300, 2) identical pairs found, jaccard exactly 1.0
    assert len(same_pairs) == n_same * (n_same - 1) // 2
    assert all(r["jaccard"] == 1.0 for r in same_pairs)


def test_salting_preserves_output(spark):
    """The doc band self-join returns one pair set salted (threshold
    16, where this corpus has hot buckets) and unsalted."""
    rows = [
        (i, f"document about topic {i % 7} with shared phrasing and filler {i}")
        for i in range(80)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    slim = TX.doc_band_rows(docs, with_allb=True).localCheckpoint()
    assert BJ.hot_buckets(slim, 16).count() > 0

    def cand(threshold):
        return sorted(
            tuple(r)
            for r in BJ.banded_self_join(
                slim, "doc_id", False, 32, TX.LSH_BANDS, threshold
            ).collect()
        )

    assert cand(16) == cand(10**9)


def test_unskewed_corpus_compiles_one_branch_plan(spark, final_plan):
    """Twin of the similarity test: with zero hot buckets adaptive
    execution runs the one-branch candidate plan (no partner-group
    explode of band rows, no hot+cold union), so codegen never compiles
    the salted half; a boilerplate block still runs the salted plan."""
    rows = [
        (i, f"unique document number {i} with its own words {i * i}")
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    plan = final_plan(TX.near_dup_pairs(docs, with_mutants=False))
    assert "explode" not in plan and "Union" not in plan

    # the unique docs keep the cold branch non-empty, so both run
    hot_rows = [
        (i, "the same boilerplate paragraph repeated " * 4)
        for i in range(200)
    ] + [(200 + i, text) for i, text in rows]
    hot_docs = spark.createDataFrame(
        pd.DataFrame(hot_rows, columns=["doc_id", "text"])
    )
    hot_plan = final_plan(TX.near_dup_pairs(hot_docs, with_mutants=False))
    assert "explode" in hot_plan and "Union" in hot_plan
