from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# sf-dependent literal oracles (convex hull) must be built against the
# same sf dir the tests run at (the driver's gate uses its sf0.01
# default)
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from s2geometry_spark.plans.session import build_session

    spark = build_session(app_name="s2spark-tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def shuffle_join_rows(spark):
    """Build a frame with ``spark.sql.autoBroadcastJoinThreshold`` at
    -1, so its unhinted equi-joins plan as shuffle joins; assert the
    plan holds no broadcast hash join and return its sorted rows.  The
    threshold is restored afterwards."""

    def run(build):
        conf = "spark.sql.autoBroadcastJoinThreshold"
        saved = spark.conf.get(conf)
        spark.conf.set(conf, "-1")
        try:
            df = build()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan, plan
            return sorted(tuple(r) for r in df.collect())
        finally:
            spark.conf.set(conf, saved)

    return run


@pytest.fixture
def final_plan():
    """Run an action on a frame and return its ``== Final Plan ==``:
    the plan adaptive execution actually ran, not the one it started
    from."""

    def run(df):
        df.collect()
        aqe = df._jdf.queryExecution().executedPlan()
        assert aqe.isFinalPlan()
        return aqe.executedPlan().toString()

    return run
