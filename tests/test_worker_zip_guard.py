"""The stat guard on ``zipimporter.invalidate_caches`` (plans/zipcache.py).

Driver side: on an unchanged archive the guarded call re-reads nothing,
and a rewritten archive is still picked up by the next
``importlib.invalidate_caches()``.  Worker side: after a library pUDF the
Python workers run guarded, and their per-task
``importlib.invalidate_caches()`` re-reads no archive directory.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

MOD = "s2_zipguard_probe_mod"


def _write_archive(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MOD}.py", f"VALUE = {value}\n")


def test_guard_skips_unchanged_archive_and_sees_rewrite(tmp_path, monkeypatch):
    from pyspark.core.files import SparkFiles

    from s2geometry_spark.plans import zipcache

    original = zipimport.zipimporter.invalidate_caches
    # restores the unguarded method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.delitem(sys.modules, MOD, raising=False)

    zipcache.guard_worker_zip_caches()  # the driver: nothing installed
    assert zipimport.zipimporter.invalidate_caches is original
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    zipcache.guard_worker_zip_caches()
    assert zipimport.zipimporter.invalidate_caches is not original

    archive = str(tmp_path / "probe.zip")
    _write_archive(archive, "1")
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(MOD).VALUE == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    importer.invalidate_caches()  # an importer's first call re-reads
    assert reads == [archive]
    reads.clear()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []

    _write_archive(archive, "123456789")  # a different size
    del sys.modules[MOD]
    importlib.invalidate_caches()
    assert importlib.import_module(MOD).VALUE == 123456789
    assert reads.count(archive) == 1


def test_workers_reread_no_archive_after_library_pudf(spark):
    from pyspark.sql import functions as F

    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import points as P

    pts = P.with_xyz(
        spark.range(0, 40_000, numPartitions=8).select(F.col("id").alias("key"))
    )
    T.assign_cellids(pts).write.format("noop").mode("overwrite").save()

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        def guarded():
            method = zipimport.zipimporter.invalidate_caches
            return method.__module__ == "s2geometry_spark.plans.zipcache"

        for _ in batches:
            pass
        on_entry = guarded()
        # a worker the pool had not given the library pUDF imports the
        # package here and stamps its importers on this first call, as
        # the next task's setup_spark_files would
        import s2geometry_spark  # noqa: F401

        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame(
            {
                "on_entry": [on_entry],
                "installed": [guarded()],
                "reads": [len(reads)],
            }
        )

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(probe, "on_entry boolean, installed boolean, reads long")
        .collect()
    )
    assert len(rows) == 4
    assert any(r.on_entry for r in rows), rows  # the library pUDF installed it
    assert all(r.installed for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
