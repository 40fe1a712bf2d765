"""s2geometry_spark — a PySpark-native spherical spatial-join + tiling
engine.

A from-scratch re-expression of the S2 geometry query semantics
(reference: alas/s2geometry, read-only at /root/reference) as Spark
DataFrame dataflows: vectorized numpy kernels exposed as pandas/Arrow
UDFs for the per-row geometry, driver-side region coverings on the
small dim side, and covering-term equi-joins / ring-expansion kNN for
the distributed big side.

Layout:
  kernels/    pure-numpy S2 math (no Spark imports) — the exactness core
  functions/  Spark Column functions + pandas UDF wrappers
  operators/  distributed query operators (tiling, spatial joins, kNN,
              dedup, ANN, text analysis, multimodal plumbing)
  sources/    deterministic synthetic image/region tables + IO layout
  plans/      session config, checkpoint/lineage
  streaming/  structured-streaming variants

Importing the package in a PySpark Python worker installs a stat guard
on ``zipimport.zipimporter.invalidate_caches`` (``plans/zipcache.py``):
the per-task ``importlib.invalidate_caches()`` of the worker then skips
re-reading ``pyspark.zip`` and the spark-core jar while those archives
are unchanged.  In the driver the import changes nothing.
"""

from s2geometry_spark.plans.zipcache import guard_worker_zip_caches

__version__ = "0.1.0"

guard_worker_zip_caches()
