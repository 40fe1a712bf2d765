"""The batch minhash path requires a unique ``doc_id``; a duplicated id
fails the query, naming the id, instead of blending two texts'
shingles into one signature.  The check rides the signature's own
groupBy, so it costs no extra Spark job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s2geometry_spark.operators import textops as TX


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a completely unrelated sentence about spherical caps"),
    (3, "the quick brown fox jumps over the lazy dogs"),
]


@pytest.mark.parametrize("with_mutants", [False, True])
def test_near_dup_pairs_rejects_duplicated_doc_id(spark, with_mutants):
    docs = _docs(spark, ROWS + [(2, "the same id, another text entirely")])
    with pytest.raises(Exception, match="duplicated doc_id 2 "):
        TX.near_dup_pairs(docs, with_mutants=with_mutants).collect()


def test_identical_duplicate_rows_are_rejected(spark):
    """Two identical rows are still two rows with one id."""
    docs = _docs(spark, ROWS + [ROWS[0]])
    with pytest.raises(Exception, match="duplicated doc_id 1 "):
        TX.minhash_signature(docs).collect()


def test_unique_doc_ids_pass(spark):
    pairs = TX.near_dup_pairs(_docs(spark, ROWS), with_mutants=False).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 3)}


def test_curate_survivors_rejects_duplicated_doc_id(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = (
        TX.curate_survivors(docs).where(F.col("stage") == "exact")
        .select("doc_id").orderBy("doc_id").limit(2).collect()
    )
    a, b = (r["doc_id"] for r in exact)
    # doc b keeps its text (it passes every filter) but takes a's id
    dup = docs.withColumn(
        "doc_id",
        F.when(F.col("doc_id") == b, F.lit(a)).otherwise(F.col("doc_id")),
    )
    with pytest.raises(Exception, match=f"duplicated doc_id {a} "):
        TX.curate_survivors(dup).collect()
