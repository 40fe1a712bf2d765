"""Self-test of the benchmark's own measurement and checking code.

    python3 perfbench/selftest.py

Run from the root of a checkout; about half a minute on 4 cores.
Exits non-zero if any check fails.  It proves that

- a forced output's row count is read back exactly from Spark's SQL
  metrics, and a count that differs from the checked one fails the step;
- a dropped or an altered output row fails the oracle comparison, on a
  real ``textops.near_dup_pairs`` output against its DuckDB oracle;
- the traced run attributes Python worker CPU to the Arrow encode:
  ``udfs.python_cpu_s > 0`` on a tiny ``tile.assign_cellids``.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check(ok: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb
    import pyarrow.parquet as pq

    from perfbench import run as R
    from perfbench import trace as TR
    from perfbench import workloads as WL
    from s2geometry_spark.operators import textops as TX
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.plans.session import build_session

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    failures: list[str] = []
    spark = build_session(app_name="perfbench-selftest", cores=2,
                          extra_conf=R.session_conf(work))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tr = TR.Tracer(spark, enabled=True)

        # 1. udfs.python_cpu_s > 0 on a tiny encode, and exact counts
        n = 20_000
        tr.begin_iteration(0)
        with tr.span("iteration", "bench"):
            with tr.span("tile.assign_cellids", "tile"):
                tr.force(T.assign_cellids(WL._range_points(spark, 0, n, 2)), "encode")
        rows, groups = tr.end_iteration()
        m = TR.layer_metrics(tr.spans, groups)
        _check(m.get("udfs.python_cpu_s", 0.0) > 0, "udfs.python_cpu_s > 0 on a tiny encode", failures)
        _check(m.get("udfs.rows") == n, f"udfs.rows == {n}", failures)
        _check(rows == {"encode": n}, "forced output rows read from the SQL metric", failures)
        _check(WL.check_counts({"encode": n}, rows) == [], "matching count passes", failures)
        _check(WL.check_counts({"encode": n}, {"encode": n - 1}) != [],
               "a step one row short fails", failures)

        # 2. a dropped or altered output row fails the oracle comparison
        docs_path = os.path.join(work, "documents.parquet")
        pq.write_table(
            pq.read_table(os.path.join(WL.DATA_DIR, "documents.parquet")).slice(0, 60),
            docs_path,
        )
        tr.enabled = False
        tr.capture_dir = os.path.join(work, "checked")
        tr.begin_iteration(1)
        tr.force(TX.near_dup_pairs(spark.read.parquet(docs_path)), "near_dup_pairs")
        rows, _ = tr.end_iteration()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
        want = con.execute(TX.near_dup_pairs_sql("documents")).fetchall()
        got = con.execute(
            f"SELECT id_a, id_b, jaccard FROM '{tr.capture_dir}/near_dup_pairs/*.parquet'"
        ).fetchall()
        con.close()
        _check(len(want) > 1 and rows["near_dup_pairs"] == len(want),
               f"near_dup_pairs output has the oracle's {len(want)} rows", failures)
        _check(WL._mismatch("near_dup_pairs", got, want) == [], "intact output passes", failures)
        _check(WL._mismatch("near_dup_pairs", got[1:], want) != [], "a dropped row is caught", failures)
        altered = [(got[0][0], got[0][1], got[0][2] * 0.5)] + got[1:]
        _check(WL._mismatch("near_dup_pairs", altered, want) != [], "an altered row is caught", failures)
        duplicated = got[:1] + got[1:] + got[:1]
        _check(WL._mismatch("near_dup_pairs", duplicated, want) != [],
               "a duplicated row is caught", failures)
    finally:
        R._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "FAILED " + "; ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
