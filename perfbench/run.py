#!/usr/bin/env python3
"""Steady-state benchmark of the transcript feature engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload backfill_full --seed 1 --seconds 10 --trace 0

One process on ``local[nproc]``. Each run starts one Spark session, sets up
(generated inputs, history build, the cold first operation and the warm-up
operations), times operations for ``--seconds`` seconds, then checks the
outputs once. The last stdout line is the result; the line before it carries
the host context and every sample.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
set-up, untraced timed phase and check, then re-runs the workload in a
second session with Spark's event log on and reports only the per-layer
split (see ``layers.py``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
MIN_OPS = 3


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def driver_memory() -> str:
    """JVM heap sized to the host: a quarter of RAM, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return f"{max(1024, min(4096, total_mb // 4))}m"


def start_session(work: str, eventlog_dir: str | None = None):
    from nfl_feature_store_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if eventlog_dir:
        from eventlog import EVENTLOG_CONF

        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(EVENTLOG_CONF, **{"spark.eventLog.dir": eventlog_dir})
    return get_spark(app_name="perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf)


def stop_everything() -> None:
    """Stop the Spark session, close the JVM and wait until every process
    this run started has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import host

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the PySpark gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    host.wait_for_children()


def run(args, work: str) -> tuple[dict, dict]:
    import host
    from workloads import WORKLOADS

    ctx = {"start": host.host_context(), "seed": args.seed}
    wl = WORKLOADS[args.workload]()

    # set-up, once, from process start to the first timed op: session start,
    # inputs, the history build, the cold first op and the warm-up ops
    phases = {}
    t0 = time.perf_counter()
    spark = start_session(work)
    phases["session_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.setup(spark, work, args.seed)
    phases["inputs_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.reset()
    wl.op(spark)
    phases["cold_op_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(wl.warmup_ops):
        wl.reset()
        wl.op(spark)
    phases["warmup_s"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START
    log(f"set-up {setup_s:.2f}s: " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))

    # timed operations
    walls, cpus, failed, errors = [], [], 0, []
    expected = wl.expected_rows(spark)
    with host.WorkerRssSampler() as rss:
        t_phase = time.perf_counter()
        while len(walls) < MIN_OPS or time.perf_counter() - t_phase < args.seconds:
            wl.reset()
            c0, t0 = host.tree_cpu_s(), time.perf_counter()
            try:
                wl.op(spark)
                fails = wl.op_failures(expected)
            except Exception:
                fails = [traceback.format_exc(limit=3)]
            walls.append(time.perf_counter() - t0)
            cpus.append(host.tree_cpu_s() - c0)
            failed += bool(fails)
            errors += fails
    log(f"timed {len(walls)} ops, median {statistics.median(walls):.3f}s")

    # one untimed output check; a failed check fails every timed op
    try:
        fails, info = wl.check(spark, args.seed)
    except Exception:
        fails, info = [traceback.format_exc(limit=3)], {}
    if fails:
        failed = len(walls)
    errors += fails
    log(f"check: {fails or 'ok'}")

    ctx.update(
        calib_s=host.calibrate(), setup_phases_s=phases, op_wall_s=walls, op_cpu_s=cpus,
        worker_rss_mb=rss.peak_mb, check=info, errors=errors, failed_frac=failed / len(walls),
    )
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "cpu_s": (statistics.median(cpus), "s"),
        "worker_rss_mb": (rss.peak_mb, "MB"),
    }
    if args.trace:
        from layers import trace_layers

        metrics = trace_layers(wl, work, start_session, untraced_wall_s=statistics.median(walls))
        metrics["session.start_s"] = (phases["session_s"], "s")
    ctx["end"] = host.host_context()
    result = {
        "correct": failed == 0,
        "attempted": len(walls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    return ctx, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill_full", "daily_append"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import nfl_feature_store_spark  # noqa: F401  -- fails fast outside a checkout

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every temporary file of the driver, the JVM and the workers inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH_DIR])
    try:
        ctx, result = run(args, work)
    finally:
        stop_everything()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
