"""The corpus-curation pipeline must drop planted exact + near
duplicates and low-quality docs, keep the rest, and resume
stage-for-stage from its checkpoints."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest


def _run(sf_dir: str, root: str) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            "jobs/curate_corpus.py",
            "--sf-dir",
            sf_dir,
            "--checkpoint-root",
            root,
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, out.stderr[-3000:]
    return json.loads(lines[-1])


def test_curation_with_planted_problems(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    exact_dups = docs.limit(10).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    near_dups = docs.limit(10).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    junk = spark.range(10).select(
        (F.col("id") + 5_000_000).alias("doc_id"),
        F.lit("x x x x x x x x x x x x x x x x x x x x").alias("text"),
    )  # distinct_ratio 1/20 = 0.05 boundary-low? keep: ratio filter
    short = spark.range(10).select(
        (F.col("id") + 6_000_000).alias("doc_id"),
        F.lit("too short").alias("text"),  # 2 tokens < min 5
    )
    corpus_dir = tmp_path / "corpus"
    (
        docs.unionByName(exact_dups)
        .unionByName(near_dups)
        .unionByName(junk)
        .unionByName(short)
        .coalesce(1)
        .write.parquet(str(corpus_dir / "documents.parquet"))
    )

    root = str(tmp_path / "ck")
    rep = _run(str(corpus_dir), root)
    assert rep["docs"]["rows"] == 240
    # short docs fail the token window
    assert rep["quality_filter"]["rows"] <= 230
    # exact dups collapse (10 planted copies dropped)
    assert rep["dedup_exact"]["rows"] <= rep["quality_filter"]["rows"] - 10
    # near dups drop too
    assert rep["near_dedup"]["rows"] <= rep["dedup_exact"]["rows"] - 10
    assert 0 < rep["kept_fraction"] < 1

    # resume: every stage skips
    rep2 = _run(str(corpus_dir), root)
    for stage in ("docs", "profile", "quality_filter", "dedup_exact",
                  "near_dedup"):
        assert rep2[stage]["resumed"], stage
        assert rep2[stage]["rows"] == rep[stage]["rows"], stage


def test_published_snapshot_versions(spark, sf_dir, tmp_path):
    """Each run publishes the clean corpus as an atomically-committed
    snapshot; a resumed run commits the NEXT version with identical
    rows, and the previous version stays readable (time travel)."""
    from s2geometry_spark.sources import snapshots as SN

    root = str(tmp_path / "ck")
    rep = _run(sf_dir, root)
    assert rep["published"]["version"] == 1
    assert rep["published"]["rows"] == rep["near_dedup"]["rows"]

    rep2 = _run(sf_dir, root)
    assert rep2["published"]["version"] == 2
    assert rep2["published"]["rows"] == rep["published"]["rows"]

    pub = f"{root}/published"
    assert SN.read_snapshot(spark, pub, version=1).count() == rep[
        "published"
    ]["rows"]
    assert SN.current_version(pub) == 2


def _main_in_process(monkeypatch, capsys, sf_dir: str, root: str) -> dict:
    """Run ``jobs/curate_corpus.main()`` in this process on the active
    session; returns its JSON report."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs", "curate_corpus.py",
    )
    spec = importlib.util.spec_from_file_location("curate_corpus", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    monkeypatch.setattr(
        sys, "argv",
        [path, "--sf-dir", sf_dir, "--checkpoint-root", root],
    )
    job.main()
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    return json.loads(lines[-1])


def test_resume_after_near_dup_failure(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """A run that fails in the near-dup stage resumes from the stages
    it finished: the re-run reports profile, quality_filter and
    dedup_exact as resumed, and publishes the same rows as a clean run
    in a fresh root."""
    from s2geometry_spark.operators import textops as TX
    from s2geometry_spark.sources import snapshots as SN

    def boom(*args, **kwargs):
        raise RuntimeError("injected near-dup failure")

    root = str(tmp_path / "ck")
    with monkeypatch.context() as m:
        m.setattr(TX, "near_dup_pairs", boom)
        with pytest.raises(RuntimeError, match="injected near-dup failure"):
            _main_in_process(monkeypatch, capsys, sf_dir, root)
    assert SN.current_version(f"{root}/published") is None

    rep = _main_in_process(monkeypatch, capsys, sf_dir, root)
    for stage in ("profile", "quality_filter", "dedup_exact"):
        assert rep[stage]["resumed"] is True, stage
    assert rep["near_dedup"]["resumed"] is False

    fresh = str(tmp_path / "fresh")
    clean = _main_in_process(monkeypatch, capsys, sf_dir, fresh)
    assert not any(clean[s]["resumed"] for s in ("profile", "dedup_exact"))

    def published(r):
        return sorted(tuple(x) for x in SN.read_snapshot(spark, f"{r}/published").collect())

    got = published(root)
    assert got == published(fresh)
    assert len(got) == clean["published"]["rows"] > 0
