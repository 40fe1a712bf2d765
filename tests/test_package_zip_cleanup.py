"""A session ships one package zip and leaves none behind.

``build_session`` adds the zip once; the driver queries' ``_ensure_pkg``
then finds it in ``listFiles`` and builds no other.  The zip's temp dir
goes when the process that built the session exits.  Run in a
subprocess under its own ``TMPDIR`` so the exit can be observed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import glob, json, os, sys
import __spark_entry__ as E
from s2geometry_spark.plans.session import build_session

spark = build_session(app_name="zip-cleanup", cores=2, shuffle_partitions=4)
for name in ("s2_tile_assign", "s2_cellid_nav"):
    E.queries()[name](spark, sys.argv[1]).count()
print(json.dumps({
    "zips": glob.glob(os.path.join(
        os.environ["TMPDIR"], "s2geometry_spark_pyfiles_*", "*.zip")),
    "listed": [f for f in spark.sparkContext.listFiles
               if f.endswith("/s2geometry_spark.zip")],
}))
spark.stop()
"""


def test_one_zip_per_session_and_none_after_exit(sf_dir, tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", CHILD, sf_dir],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    run = json.loads(lines[-1])
    assert len(run["zips"]) == 1, run
    assert len(run["listed"]) == 1, run
    left = [p for p in os.listdir(tmp_path) if p.startswith("s2geometry_spark_pyfiles_")]
    assert left == []
