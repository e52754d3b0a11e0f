"""gdal_spark benchmark: one seeded, closed-loop workload per invocation.

    python3 perfbench/run.py --workload zonal_pages --seed 1 --seconds 6 --trace 0

Run from the repository root. One client submits one job at a time to a
Spark ``local[N]`` session, N = the host's usable cores. Every job's
output is checked against a DuckDB oracle. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; ``--trace 0`` reports the end-to-end metrics and
``--trace 1`` the per-layer metrics (see perfbench/README.md).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, ROOT)

from perfbench.trace import (SPAN_UNITS, RssSampler, Tracer,  # noqa: E402
                             cpu_ticks, process_tree)

SPANS = ("pages", "extract", "cells", "pip_join", "pipeline.agg", "knn",
         "raster.rasterize", "raster.overview", "raster.checksum",
         "checkpoint.commit", "checkpoint.resume", "checkpoint.read")
END_TO_END_UNITS = {"rows_per_s": "rows/s", "job_s": "s", "setup_s": "s",
                    "ops_ok_share": "ratio"}
PER_LAYER_UNITS = {f"{s}.{f}": u for s in SPANS for f, u in SPAN_UNITS.items()}
PER_LAYER_UNITS.update({
    "extract.hit_ratio": "ratio", "cells.top_cell_share": "ratio",
    "strtree.s": "s", "strtree.candidates": "count", "geom.pip_s": "s",
    "pip_join.match_ratio": "ratio", "pip_join.rows_out": "count",
    "knn.jobs": "count", "knn.task_skew": "ratio", "raster.tiles": "count",
    "raster.task_skew": "ratio", "checkpoint.files_written": "count",
    "checkpoint.bytes_written": "bytes", "checkpoint.skip_ratio": "ratio",
    "session.start_s": "s", "trace.job_s": "s", "trace.untraced_job_s": "s",
    "trace.overhead_s": "s", "peak_rss_mb": "MB",
})
MAX_CONSECUTIVE_FAILURES = 3


def usable_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("zonal_pages", "knn_hotspot", "tile_commit"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repeat", type=int, default=None,
                   help="override the workload's input size (x5,000 docs)")
    return p.parse_args(argv)


def isolate_io(run_dir: str, cores: int) -> dict:
    """Point every temporary file of Python, Spark and the JVM into
    ``run_dir`` and make the engine's modules importable by Spark's
    Python workers. Returns the session's extra Spark conf."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_everything(spark) -> None:
    """Stop Spark, then terminate and wait for every process this one
    started — including Spark's Python workers, which outlive the JVM as
    orphans if it dies first."""
    me = os.getpid()
    started = [p for p in process_tree(me) if p != me]
    try:
        stop_spark(spark)
    finally:
        for sig, wait_s in ((signal.SIGTERM, 15), (signal.SIGKILL, 15)):
            left = [p for p in started if _alive(p)]
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + wait_s
            while left and time.monotonic() < deadline:
                time.sleep(0.05)
                left = [p for p in left if _alive(p)]
            if not left:
                break


def percentile_report(times: list[float]) -> str:
    """Sample count, median and the highest percentile with at least ten
    samples beyond it (nearest rank)."""
    n = len(times)
    if n == 0:
        return "n=0"
    s = sorted(times)
    parts = [f"n={n}", f"median={statistics.median(s):.4f}s"]
    for p in (99, 95, 90, 75, 50):
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            parts.append(f"p{p}={s[rank - 1]:.4f}s")
            break
    else:
        parts.append("(no percentile has 10 samples beyond it)")
    return " ".join(parts)


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gdal_spark")):
        print("perfbench: gdal_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    cores = usable_cores()
    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = isolate_io(run_dir, cores)

    from gdal_spark.session import get_spark
    from perfbench import inputs
    from perfbench.workloads import WORKLOADS, Context

    wl = WORKLOADS[args.workload]()
    if args.repeat:
        wl.repeat = args.repeat
    spark = None
    attempted = failed = 0
    job_times: list[float] = []
    untraced_times: list[float] = []
    metrics: dict = {}
    try:
        with RssSampler() as rss:
            spark, session_s = timed(
                get_spark, f"perfbench-{args.workload}", f"local[{cores}]",
                None, conf)
            spark.sparkContext.setLogLevel("ERROR")
            data_dir, gen_s = timed(
                inputs.write_documents, os.path.join(run_dir, "data"),
                args.seed, wl.repeat)
            ctx = Context(spark, data_dir, run_dir)
            _, prep_s = timed(wl.prepare, ctx)
            t0 = time.perf_counter()
            for _ in range(wl.warmup_jobs):  # untimed, still checked
                wl.check(ctx, wl.job(ctx))
            warm_s = time.perf_counter() - t0
            setup_s = time.perf_counter() - T_START
            print(f"setup {setup_s:.2f}s: session {session_s:.2f}s, inputs"
                  f" {gen_s:.2f}s, oracle+prepare {prep_s:.2f}s,"
                  f" {wl.warmup_jobs} warm-up job(s) {warm_s:.2f}s")

            tracer = Tracer(spark, cores) if args.trace else None
            consecutive = 0
            # a traced run needs one untraced job for the tracing overhead
            min_jobs = 2 if args.trace else 1
            steal0, total0 = cpu_ticks()
            deadline = time.perf_counter() + args.seconds
            while time.perf_counter() < deadline or attempted < min_jobs:
                traced = tracer is not None and attempted % 2 == 0
                attempted += 1
                try:
                    if traced:
                        tracer.run_id = attempted
                        with tracer.span("job"):
                            out, dt = timed(wl.traced_job, ctx, tracer)
                    else:
                        out, dt = timed(wl.job, ctx)
                    wl.check(ctx, out)
                    # in a traced run job_times holds the traced jobs
                    if args.trace and not traced:
                        untraced_times.append(dt)
                    else:
                        job_times.append(dt)
                    consecutive = 0
                except Exception:  # noqa: BLE001 - count it, keep measuring
                    failed += 1
                    consecutive += 1
                    traceback.print_exc()
                    if consecutive >= MAX_CONSECUTIVE_FAILURES:
                        break
            steal1, total1 = cpu_ticks()
            steal = (steal1 - steal0) / max(1, total1 - total0)
            peak_rss_mb = rss.peak_mb  # the probes below are not a job
            if args.trace and job_times:
                metrics = dict.fromkeys(PER_LAYER_UNITS, 0.0)
                probes = wl.probes(ctx, tracer)  # may add a span
                metrics.update(tracer.layer_metrics(SPANS))
                metrics.update(probes)
                metrics["session.start_s"] = session_s
                metrics["peak_rss_mb"] = peak_rss_mb
                metrics["knn.jobs"] = tracer.median_of("knn", "jobs")
                metrics["knn.task_skew"] = tracer.median_of("knn", "task_skew")
                metrics["raster.task_skew"] = tracer.median_of(
                    "raster.rasterize", "task_skew")
                metrics["trace.job_s"] = statistics.median(job_times)
                if untraced_times:
                    metrics["trace.untraced_job_s"] = statistics.median(
                        untraced_times)
                    metrics["trace.overhead_s"] = (
                        metrics["trace.job_s"]
                        - metrics["trace.untraced_job_s"])
                tracer.dump(os.path.join(
                    WORK, f"trace-{args.workload}-seed{args.seed}.json"))
        if not args.trace and job_times:
            job_s = statistics.median(job_times)
            metrics = {
                "rows_per_s": wl.rows / job_s,
                "job_s": job_s,
                "setup_s": setup_s,
                "ops_ok_share": (attempted - failed) / attempted,
            }
    finally:
        try:
            stop_everything(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    print(f"workload={args.workload} seed={args.seed} cores={cores}"
          f" rows={wl.rows} jobs: {percentile_report(job_times)}")
    print("job seconds in order: "
          + " ".join(f"{t:.3f}" for t in job_times))
    print(f"cpu steal during the timed jobs: {steal:.1%} of host CPU time")
    if args.trace:
        print(f"untraced jobs: {percentile_report(untraced_times)}")
        if untraced_times:
            print(f"tracing overhead: {metrics['trace.overhead_s']:+.4f}s per"
                  f" job (traced {metrics['trace.job_s']:.4f}s vs untraced"
                  f" {metrics['trace.untraced_job_s']:.4f}s)")
        if job_times:
            in_job = {s["name"] for s in tracer.spans if s["parent"] == "job"}
            shares = ", ".join(
                f"{s} {metrics[f'{s}.s'] / metrics['trace.job_s']:.0%}"
                for s in SPANS if s in in_job)
            print(f"span self time / traced job: {shares}")
    result = {
        "correct": failed == 0 and bool(job_times),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if job_times else 1


if __name__ == "__main__":
    sys.exit(main())
