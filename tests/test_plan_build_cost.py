"""Building a plan costs few Py4J round trips.

PySpark's "DataFrame debugging" call-site capture adds about 10 Py4J
round trips to every ``F.col`` and ``Column`` method call;
``plans.session.build_session`` turns it off, and the covering join
builds its per-level ancestors, the unit-vector columns and the cap
refine as one SQL expression each.  These tests count
``ClientServerConnection.send_command`` calls (one per round trip) on
the shared session while a plan is built; no Spark job runs.
"""

from __future__ import annotations

import gc

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from s2geometry_spark.operators import coverings as COV
from s2geometry_spark.operators import spatial_join as SJ
from s2geometry_spark.operators import tile as T
from s2geometry_spark.plans.session import NO_CALL_SITE_CAPTURE
from s2geometry_spark.sources import points as P
from s2geometry_spark.sources import regions_src as R

CAPS = R.synthetic_caps(range(57))


@pytest.fixture
def round_trips(monkeypatch):
    """``round_trips(build)``: the Py4J round trips of one ``build()``
    call after a warm-up call.  The cyclic garbage collector is off
    while it runs, so no detach command of an older Java object lands
    in the count."""
    count = [0]
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        count[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def run(build):
        build()
        gc.collect()
        gc.disable()
        try:
            count[0] = 0
            build()
            return count[0]
        finally:
            gc.enable()

    return run


@pytest.fixture(scope="module")
def points(spark):
    return T.assign_cellids(
        P.with_xyz(spark.range(0, 1000).select(F.col("id").alias("key")))
    )


def test_session_turns_call_site_capture_off(spark):
    key, value = NO_CALL_SITE_CAPTURE
    assert spark.conf.get(key) == value == "false"


def test_column_arithmetic_is_a_few_round_trips(spark, round_trips):
    assert round_trips(lambda: F.col("x") + 1) <= 4


def test_cap_join_plan_round_trips(spark, points, round_trips):
    n = round_trips(lambda: SJ.point_in_cap_join(spark, points, CAPS))
    assert n <= 150, n


def test_covering_join_round_trips_do_not_grow_with_levels(
    spark, points, round_trips
):
    cov_pdf = COV.build_covering_rows(CAPS, None)
    levels = COV.covering_levels(cov_pdf)
    assert len(levels) >= 5, levels
    cov = SJ.typed_cov_df(
        spark, SJ.with_cap_params(cov_pdf, CAPS), "region_id",
        [rid for rid, _ in CAPS],
    )
    one = round_trips(lambda: SJ.covering_join(points, cov, levels[:1]))
    every = round_trips(lambda: SJ.covering_join(points, cov, levels))
    assert every == one, (every, one)
