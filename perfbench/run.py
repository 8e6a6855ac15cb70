#!/usr/bin/env python3
"""dedup_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dup_flood --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``. The line before it records the environment and
every sample. README.md in this directory describes the workloads and
what each metric means.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
# untimed call before the timed ones: JIT, code generation caches,
# Python workers and page cache. The first call takes two to three
# times as long as the next. Later calls keep getting a few percent
# faster, but a second warm-up call did not narrow the spread between
# runs, which comes from each process as a whole.
WARMUP_CALLS = 1

sys.path.insert(0, str(HERE))


def pin_environment() -> dict:
    """Fix the settings a run depends on; must run before pyspark is
    imported. Every file Spark, the JVM or Python writes goes under WORK."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_mb = int(f.readline().split()[1]) // 1024
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "eventlog", WORK / "out"):
        d.mkdir(parents=True, exist_ok=True)
    # the Python workers import the engine inside UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = f"{min(2048, ram_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # for every JVM, spark-submit's launcher included: temporary files
    # under WORK, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))
    return {"cpus": cpus, "ram_mb": ram_mb, "driver_mem": os.environ["SPARK_DRIVER_MEM"]}


def start_spark(cpus: int, extra: dict | None = None):
    from dedup_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        **(extra or {}),
    }
    return get_spark("perfbench", cores=cpus, extra_conf=conf)


def release(spark) -> None:
    """Let the ContextCleaner drop the last call's checkpoint blocks, as
    bench.py does between queries."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)


def stop_spark() -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def sample_runs(spark, wl, c, seconds: float) -> dict:
    """Timed, untraced calls: as many as fit in ``seconds`` at the
    workload's nominal rate, at least one. Each call's output is
    checked; set-up, checks and clean-up stay outside each call's timer."""
    import procstat
    from workloads import assignment, check, execute

    walls, cpus, problems, scores, asg = [], [], [], [], None
    peak = procstat.PeakRss()
    for n in range(max(1, int(seconds // wl.call_s))):
        release(spark)
        try:
            with peak:
                c0, t0 = procstat.cpu_seconds()[0], time.perf_counter()
                out = execute(spark, wl, c, WORK / "out", n)
                wall = time.perf_counter() - t0
                cpu = procstat.cpu_seconds()[0] - c0
            walls.append(wall)
            cpus.append(cpu)
            asg = assignment(spark, wl, out)
            s, p = check(spark, wl, c, out, asg)
            out.release()
            scores.append(s)
            problems.append(p)
        except Exception:
            problems.append([traceback.format_exc(limit=3)])
    return {
        "walls": walls, "cpus": cpus, "scores": scores, "problems": problems,
        "peak_rss_mb": peak.peak_mb, "assignment": asg,
    }


def end_to_end(rows: int, setup_s: float, runs: dict) -> dict:
    wall = statistics.median(runs["walls"])
    return {
        "images_per_s": (rows / wall, "1/s"),
        "run_wall_s": (wall, "s"),
        "cpu_s_per_kimg": (statistics.median(runs["cpus"]) / (rows / 1000), "s/kimg"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (runs["peak_rss_mb"], "MB"),
        "pair_recall": (min(s["pair_recall"] for s in runs["scores"]), "ratio"),
        "pair_precision": (min(s["pair_precision"] for s in runs["scores"]), "ratio"),
    }


def traced_run(spark, cpus: int, wl, c, untraced: dict, jvm_pid: int) -> tuple[dict, list]:
    """One call with every layer boundary wrapped, in a fresh session
    that writes an uncompressed event log."""
    import tracing
    from workloads import assignment, execute

    log_dir = WORK / "eventlog"
    spark.stop()
    spark = start_spark(cpus, {**tracing.EVENTLOG_CONF, "spark.eventLog.dir": log_dir.as_uri()})
    spark.sparkContext.setLocalProperty(tracing.PROP, "warmup")
    execute(spark, wl, c, WORK / "out", -1).release()
    release(spark)
    tracer = tracing.Tracer(spark, jvm_pid)
    with tracer.installed(), tracer.run("job" if wl.job else "pipeline"):
        out = execute(spark, wl, c, WORK / "out", -2)
    problems = []
    traced = assignment(spark, wl, out)
    out.release()
    if untraced["assignment"] is None or not traced.equals(untraced["assignment"]):
        problems.append("traced assignment differs from the untraced one")
    app_id = spark.sparkContext.applicationId
    spark.stop()
    events = tracing.read_event_log(log_dir / app_id)
    (log_dir / app_id).unlink()
    metrics = tracing.layer_metrics(tracer, events, statistics.median(untraced["walls"]))
    return {k: (v, tracing.unit(k)) for k, v in metrics.items()}, problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="base corpus rows (the self-test's small size); "
                         "flood copies scale with it")
    args = ap.parse_args(argv)

    env = pin_environment()
    import pyspark
    import pandas
    import pyarrow

    import procstat
    import dedup_spark.pipeline  # noqa: F401  (the engine)
    import jobs.dedup_job  # noqa: F401
    from corpus import corpus
    from workloads import WORKLOADS, execute

    wl = WORKLOADS[args.workload]
    spark = start_spark(env["cpus"])
    setup_s = procstat.process_age_s()
    jvm_pid = procstat.jvm_pid()

    rows = args.rows or wl.rows
    # at least 300 copies, so the flood tops both star-guard caps (64, 256)
    copies = max(300, wl.copies * rows // wl.rows) if wl.copies else 0
    c = corpus(WORK / "corpus", wl.profile, rows, args.seed, copies, env["cpus"])

    warmup_s = []
    for n in range(WARMUP_CALLS):
        t0 = time.perf_counter()
        execute(spark, wl, c, WORK / "out", -1 - n).release()
        warmup_s.append(time.perf_counter() - t0)

    runs = sample_runs(spark, wl, c, args.seconds)
    problems = [p for ps in runs["problems"] for p in ps]
    attempted, failed = len(runs["problems"]), sum(1 for ps in runs["problems"] if ps)
    if args.trace:
        metrics, trace_problems = traced_run(spark, env["cpus"], wl, c, runs, jvm_pid)
        attempted, failed = attempted + 1, failed + bool(trace_problems)
        problems += trace_problems
    else:
        metrics = end_to_end(c.rows, setup_s, runs)
    stop_spark()
    shutil.rmtree(WORK / "out", ignore_errors=True)

    n = len(runs["walls"])
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "rows": c.rows, "flood_copies": c.copies, "profile": wl.profile,
        **env,
        "versions": {
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "pandas": pandas.__version__, "pyarrow": pyarrow.__version__,
        },
        "setup_s": setup_s, "warmup_s": warmup_s,
        "samples": n, "run_wall_s": runs["walls"], "cpu_s": runs["cpus"],
        # the highest percentile with ten samples beyond it needs n >= 20
        "run_wall_tail": (
            {"percentile": 100 * (n - 10) // n,
             "value": statistics.quantiles(runs["walls"], n=100)[100 * (n - 10) // n - 1]}
            if n >= 20 else None
        ),
        "problems": problems,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
