"""SparkSession construction with scale-oriented defaults.

Tuned for the sandbox (local[N], single JVM) but every knob is the one
that matters on a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), Arrow enabled for every pandas UDF batch,
shuffle partitions sized to cores, broadcast threshold generous enough
for region dim tables.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

# PySpark's "DataFrame debugging" captures the Python call site of every
# ``F.col`` and ``Column`` method (``pyspark.errors.utils._with_origin``):
# a stack walk plus about 10 extra Py4J round trips per call
# (``getActiveSession``, a conf read, ``PySparkCurrentOrigin.set/clear``).
# Measured on 4 cores: ``F.col("id")`` takes 13 round trips with it and 3
# without, ``df.where(F.col("id") > 1)`` 25 and 5.  The cost is a lost
# "DataFrame context" section (the Python call site) in analysis errors.
# It is a static SQL conf, so it goes on the builder of every session
# this package starts.
NO_CALL_SITE_CAPTURE = ("spark.python.sql.dataFrameDebugging.enabled", "false")


def package_zip(out_path: str | None = None) -> str:
    """Zip the s2geometry_spark package for spark-submit --py-files /
    SparkContext.addPyFile so executors can import the kernels."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    if out_path is None:
        # unique per call: a fixed path under /tmp races with any other
        # session building the zip at the same moment (executors can
        # fetch a half-written archive) and collides across users; the
        # stable basename is what executors see via addPyFile.
        out_path = os.path.join(
            tempfile.mkdtemp(prefix="s2geometry_spark_pyfiles_"),
            "s2geometry_spark.zip",
        )
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out_path


def ship_package(spark: SparkSession) -> None:
    """``addPyFile`` the package zip unless the context already lists a
    ``s2geometry_spark.zip``.  The zip's temp dir is removed when this
    process exits; the context serves the file until then."""
    sc = spark.sparkContext
    if any(f.endswith("/s2geometry_spark.zip") for f in sc.listFiles):
        return
    tmp = tempfile.mkdtemp(prefix="s2geometry_spark_pyfiles_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    sc.addPyFile(package_zip(os.path.join(tmp, "s2geometry_spark.zip")))


def build_session(
    app_name: str = "s2geometry_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """A local[cores] session with the settings below, the package
    shipped to its python workers.

    It turns off PySpark's per-Column call-site capture
    (``NO_CALL_SITE_CAPTURE``), which made plan building Py4J-bound:
    a warm ``point_in_cap_join`` over 57 caps took 1013 round trips to
    plan with it and 293 without.  Two caveats:

    - the conf is static: it can only be set on a builder, before the
      context exists, not through ``spark.conf.set``;
    - PySpark reads the flag once per process
      (``pyspark.errors.utils._enable_debugging_cache``) at the first
      Column call.  If a session built elsewhere was active then, the
      capture stays on for the life of the process, also in sessions
      built here later.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores * 2, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # NOTE: do not force small-file scans wide here (openCostInBytes
        # / minPartitionNum): measured A/B at sf0.1 shows globally
        # over-splitting the few-MB local parquet costs more in per-task
        # overhead than it buys (tile assign 3.6s -> 5.2s, kNN 12.5s ->
        # 16.2s with minPartitionNum=cores).  The one stage that needs
        # width on a tiny scan — the minhash signature pUDF — gets an
        # explicit repartition at the operator (textops), which is also
        # the correct cluster-side idiom.  That A/B was taken while
        # every pUDF task also re-read pyspark.zip and the spark-core
        # jar (0.12-0.24 s CPU per task, removed by plans/zipcache.py), so
        # it overstates the per-task cost; the setting has not been
        # re-measured since.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config(*NO_CALL_SITE_CAPTURE)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Ship the package to python workers (local mode spawns fresh worker
    # processes that do not inherit the driver's sys.path edits; on a
    # real cluster this is the --py-files artifact).
    ship_package(spark)
    return spark
