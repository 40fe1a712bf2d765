"""s2geometry_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_dedup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One client (this process) drives a
closed loop on ``local[4]``: each step runs the workload's Spark
actions and waits for them.  Set-up (session, Python worker warm-up,
seeded input materialization, warm-up steps) is timed as ``setup_s``;
then steps repeat until ``--seconds`` have passed; then the outputs are
checked against the repository's oracles.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` mixes
untraced and traced steps (at least four) and prints the per-layer
metrics (see ``trace.py``), including the tracing overhead.  The last line of
standard output is the result object; the line before it is a report
with host context, sizes and per-step walls, and spans are written to
``.perfbench_out/`` when the run ends.  See METRICS.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
# untimed steps before the timed loop.  With one, the first timed step
# ran 8-36% slower than the second; with two, the first timed step ran
# about 4% slower than the second on both workloads, and a third step
# would not fit the time budget (METRICS.md)
WARMUP_STEPS = 2

END_TO_END = {
    "rows_per_s": "1/s",
    "cpu_s_per_mrow": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_row": "B",
    "setup_s": "s",
}
PER_LAYER = {
    "session.build_s": "s", "session.worker_warm_s": "s",
    "sources.scan_s": "s", "sources.rows_read": "count",
    "sink.write_s": "s", "sink.bytes_written": "B", "sink.files": "count",
    "udfs.python_s": "s", "udfs.rows": "count", "udfs.python_cpu_s": "s",
    "kernels.cellid_mrows_per_s": "Mrow/s",
    "tile.agg_s": "s", "tile.agg_rows_out": "count",
    "spatial_join.plan_s": "s", "spatial_join.candidate_rows": "count",
    "spatial_join.result_rows": "count", "spatial_join.refine_ratio": "ratio",
    "knn.call_s": "s", "knn.spark_jobs": "count", "knn.stages": "count",
    "knn.idle_s": "s", "knn.materialized_rows": "count",
    "near_dup.band_rows": "count", "near_dup.candidate_pairs": "count",
    "near_dup.verified_pairs": "count", "near_dup.verify_ratio": "ratio",
    "near_dup.selfjoin_s": "s",
    "exchange.shuffle_write_bytes": "B", "exchange.shuffle_read_bytes": "B",
    "exchange.spill_bytes": "B", "jvm.cpu_s": "s", "jvm.gc_s": "s",
    "spark.tasks": "count", "spark.idle_s": "s",
    "self.sources_s": "s", "self.udfs_s": "s", "self.exchange_s": "s",
    "self.sink_s": "s", "self.tile_s": "s", "self.spatial_join_s": "s",
    "self.knn_s": "s", "self.near_dup_s": "s",
    "trace.iteration_s": "s", "trace.accounted_s": "s", "trace.gap_s": "s",
    "trace.untraced_iteration_s": "s", "trace.overhead_s": "s",
    "phase.tile_ingest_s": "s", "phase.near_dup_s": "s",
    "phase.region_join_s": "s", "phase.knn_s": "s",
}


def session_conf(work: str) -> dict[str, str]:
    """Benchmark-side session settings: keep every file inside the
    checkout, keep memory modest on a shared host, and retain every
    job, stage and SQL execution of the run for the harvest."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed heap and young generation: with adaptive sizing the
        # JVM's peak RSS swung by a third between identical runs
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -Xms2g -Xmn512m",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return _run(work, workload, seed, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(work: str, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import hostctx
    from perfbench import trace as TR
    from perfbench import workloads as WL

    host = {
        "nproc": os.cpu_count(),
        "cores": CORES,
        "loadavg_start": hostctx.loadavg(),
        "probe_start_mrows_per_s": hostctx.cellid_probe(),
    }
    t_setup = time.perf_counter()
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.plans.session import build_session

    spark = build_session(app_name=f"perfbench[{workload}]", cores=CORES,
                          extra_conf=session_conf(work))
    layer: dict[str, float] = {}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        layer["session.build_s"] = time.perf_counter() - t_setup
        t0 = time.perf_counter()
        warm = WL._range_points(spark, 0, 4096, CORES)
        T.assign_cellids(warm).write.format("noop").mode("overwrite").save()
        layer["session.worker_warm_s"] = time.perf_counter() - t0

        wl = WL.WORKLOADS[workload](work, seed)
        tr = TR.Tracer(spark, enabled=False)
        wl.setup(spark)
        # untimed warm-up steps: the first writes its outputs to parquet
        # for the checks (timed steps force the same plans into the noop
        # sink)
        warmup_walls = []
        for w in range(WARMUP_STEPS):
            tr.capture_dir = os.path.join(work, "checked") if w == 0 else None
            tr.begin_iteration(-1 - w)
            t = time.perf_counter()
            wl.step(spark, tr)
            warmup_walls.append(time.perf_counter() - t)
            rows, _ = tr.end_iteration()
            if w == 0:
                first_rows = rows
            gc.collect()
        setup_s = time.perf_counter() - t_setup

        walls, traced_walls, outputs, failures = [], [], [], []
        phase_walls: list[dict[str, float]] = []
        layer_runs: list[dict[str, float]] = []
        cpu0 = hostctx.tree_cpu_s()
        t_loop = time.perf_counter()
        i = 0
        # at least two timed steps, so a median never rests on one; traced
        # runs order steps untraced, traced, traced, untraced, ... so the
        # warm-up drift cancels in the overhead estimate
        min_steps = 4 if trace else 2
        while time.perf_counter() - t_loop < seconds or i < min_steps:
            traced = trace and i % 4 in (1, 2)
            tr.enabled = traced
            tr.begin_iteration(i)
            t = time.perf_counter()
            try:
                with tr.span("iteration", "bench"):
                    wl.step(spark, tr)
                wall = time.perf_counter() - t
                rows, groups = tr.end_iteration()
            except Exception:  # noqa: BLE001 - a failed step is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                failures.append(i)
                tr._stack.clear()
                i += 1
                continue
            outputs.append((i, rows))
            # drop the step's DataFrames so Spark's ContextCleaner can free
            # their localCheckpoint blocks (as bench.py does between
            # queries); without it the kNN steps slowed down run-long
            gc.collect()
            if traced:
                traced_walls.append(wall)
                m = TR.layer_metrics(tr.spans, groups)
                for sp in tr.spans:
                    if sp.parent == 0:
                        m[f"phase.{sp.name}_s"] = sp.wall
                layer_runs.append(m)
            else:
                walls.append(wall)
                phase_walls.append({k: v for k, v in tr.walls.items() if k != "iteration"})
            i += 1
        loop_cpu = hostctx.tree_cpu_s() - cpu0
        loop_s = time.perf_counter() - t_loop
        peak_rss, rss_by_role = hostctx.peak_rss_mb()
        layer["kernels.cellid_mrows_per_s"] = hostctx.cellid_probe()

        t0 = time.perf_counter()
        checks = wl.verify(os.path.join(work, "checked"), first_rows)
        verify_s = time.perf_counter() - t0
        for n, rows in outputs:
            bad = WL.check_counts(wl.expected, rows)
            if bad:
                failures.append(n)
                checks += [f"step {n}: {b}" for b in bad]
        spans = [vars(s) | {"wall": s.wall} for s in tr.finished]
    finally:
        _stop(spark)
    host["probe_end_mrows_per_s"] = hostctx.cellid_probe()
    host["loadavg_end"] = hostctx.loadavg()

    attempted = i
    failed = len(set(failures))
    med = _median(walls)
    n_steps = len(walls) + len(traced_walls)
    metrics = {
        "rows_per_s": wl.rows / med if med else 0.0,
        "cpu_s_per_mrow": loop_cpu / (wl.rows * max(n_steps, 1) / 1e6),
        "peak_rss_mb": peak_rss,
        "stored_bytes_per_row": wl.stored_bytes / max(wl.stored_rows, 1),
        "setup_s": setup_s,
    }
    if trace:
        for k in PER_LAYER:
            vals = [m.get(k, 0.0) for m in layer_runs]
            layer.setdefault(k, sum(vals) / len(vals) if vals else 0.0)
        layer["trace.untraced_iteration_s"] = med
        layer["trace.overhead_s"] = _median(traced_walls) - med
        result_metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        result_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "sizes": wl.sizes(), "input_rows_per_step": wl.rows,
        "loop_s": loop_s, "verify_s": verify_s, "samples": len(walls),
        "warmup_walls_s": warmup_walls,
        "step_walls_s": walls, "step_phase_walls_s": phase_walls,
        "traced_step_walls_s": traced_walls,
        "fail_frac": failed / max(attempted, 1), "checks_failed": checks,
        "expected_rows": wl.expected, "host": host,
        "peak_rss_mb_by_role": rss_by_role, "end_to_end": metrics,
        "session": {k: layer[k] for k in ("session.build_s", "session.worker_warm_s")},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump({"report": report, "spans": spans}, f)
    return {
        "report": report,
        "result": {
            "correct": not checks and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": result_metrics,
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_dedup", "region_knn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be non-negative")
    sys.path.insert(0, ROOT)
    try:
        import s2geometry_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out["report"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
