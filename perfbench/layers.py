"""Traced run: split a workload's time across the engine's modules.

Runs in a second Spark session with the event log on, after the untraced
timed phase of the same process, and measures from outside the engine:

* traced operations, whose median wall time minus the untraced median is the
  tracing overhead;
* the noop materialisation of successive pipeline prefixes
  (scan -> turn_metrics -> sessionize -> window_kernel -> rank); a layer's
  ``self_s`` is its prefix's median time minus the previous prefix's;
* an identity ``mapInArrow`` of the kernel's output width over the
  sessionize prefix, which splits the kernel into Arrow transport and
  compute;
* the plan build (``backfill_features`` plus ``executedPlan``);
* for ``daily_append``, a sink and a build callable that record when
  ``run_partitioned_backfill`` reaches them, and Spark's call sites for the
  fingerprint collect, the sink write and the read-back aggregate.

Event-log metrics of a layer (CPU, GC, shuffle write, spill) are the
difference between its prefix's last repetition and the previous prefix's;
``tasks`` and ``task_skew`` (max / median task time) are those of the last
stage of the layer's prefix, the stage holding the layer's top operator.
A layer a workload does not run reports zeros.
"""

from __future__ import annotations

import os
import statistics
import time

from eventlog import EventLog
from host import WorkerRssSampler
from nfl_feature_store_spark.plans.checkpoint import ParquetDirSink
from workloads import REPS, DailyAppend, feature_cols, identity_arrow, median_time, noop

JVM_LAYERS = ("scan", "turn_metrics", "sessionize", "window_kernel", "rank")
EVENT_METRICS = {
    "cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "tasks": "count", "task_skew": "1",
}
ADDITIVE = ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")
EXTRA = {
    "turn_metrics": {"rows_out": "count"},
    "window_kernel": {"arrow_s": "s", "compute_s": "s", "worker_rss_mb": "MB", "rows_per_task_max": "count"},
}
CHECKPOINT = {
    "fingerprint_s": "s", "build_s": "s", "sink_write_s": "s", "readback_s": "s", "bytes_out_mb": "MB",
    "rows_read_per_row_written": "1", "parts_built": "count", "parts_skipped": "count",
    "fingerprint_cpu_s": "s", "sink_write_cpu_s": "s", "readback_cpu_s": "s",
}
TRACED_OPS = 3
#: the traced session shares the untraced session's warm JVM; these ops warm
#: its fresh Python workers
TRACE_WARMUP_OPS = 2


def metric_names() -> dict[str, str]:
    """Every per-layer metric name and its unit."""
    names = {"session.start_s": "s", "pipeline.plan_s": "s", "trace.overhead_s": "s", "trace.op_wall_s": "s"}
    for layer in JVM_LAYERS:
        names[f"{layer}.self_s"] = "s"
        names.update({f"{layer}.{k}": u for k, u in EVENT_METRICS.items()})
        names.update({f"{layer}.{k}": u for k, u in EXTRA.get(layer, {}).items()})
    names.update({f"checkpoint.{k}": u for k, u in CHECKPOINT.items()})
    return names


class TimedSink:
    """Delegates to the workload's sink and records when the checkpoint
    loop writes and reads back a partition."""

    def __init__(self, inner, marks: dict):
        self.inner, self.marks = inner, marks

    def write_partition(self, df, partition):
        self.marks["write0"] = time.perf_counter()
        meta = self.inner.write_partition(df, partition)
        self.marks["write1"] = time.perf_counter()
        self.marks["written_df"], self.marks["meta"] = df, meta
        return meta

    def read_partition(self, spark, partition):
        self.marks["read0"] = time.perf_counter()
        return self.inner.read_partition(spark, partition)


def traced_op(wl, spark, marks: dict | None) -> None:
    if marks is None:
        wl.op(spark)
        return

    def build(chunk):
        marks["build0"] = time.perf_counter()
        return wl.build(chunk)

    wl.op(spark, sink=TimedSink(ParquetDirSink(wl.out_dir), marks), build=build)


def checkpoint_metrics(wl, log: EventLog, marks: dict, build_s: float, op_desc: str) -> dict:
    """Split of the last traced ``run_partitioned_backfill`` call. ``build_s``
    is the noop materialisation of the frame the call handed to the sink."""
    jobs = log.jobs_where(lambda j: j.description == op_desc)
    phases = {"fingerprint": [], "sink_write": [], "readback": []}
    for j in jobs:  # in submission order: fingerprint collect, sink write, read-back aggregate
        collect = j.call_site.startswith("collect")
        if collect and not phases["sink_write"]:
            phases["fingerprint"].append(j)
        elif collect:
            phases["readback"].append(j)
        elif phases["fingerprint"]:
            phases["sink_write"].append(j)
    rows_out = {e["partition"]: e["rows_out"] for e in wl.last_manifest}[wl.last_built[-1]]
    return {
        "fingerprint_s": marks["build0"] - marks["t0"],
        "build_s": build_s,
        "sink_write_s": marks["write1"] - marks["write0"] - build_s,
        "readback_s": marks["t1"] - marks["read0"],
        "bytes_out_mb": marks["meta"]["bytes_out"] / 2**20,
        "rows_read_per_row_written": log.stats(jobs)["input_records"] / rows_out,
        "parts_built": len(wl.last_built),
        "parts_skipped": len(wl.last_manifest) - len(wl.last_built),
        **{f"{k}_cpu_s": log.stats(v)["cpu_s"] for k, v in phases.items()},
    }


def trace_layers(wl, work: str, start_session, untraced_wall_s: float) -> dict:
    """Per-layer metrics of ``wl``: ``{name: (value, unit)}``."""
    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
    log_dir = os.path.join(work, "eventlog")
    spark = start_session(work, eventlog_dir=log_dir)
    sc = spark.sparkContext
    is_checkpoint = isinstance(wl, DailyAppend)

    for _ in range(TRACE_WARMUP_OPS):
        wl.reset()
        wl.op(spark)
    walls, marks = [], None
    for i in range(TRACED_OPS):
        wl.reset()
        marks = {} if is_checkpoint else None
        sc.setJobDescription(f"op:{i}")
        t0 = time.perf_counter()
        traced_op(wl, spark, marks)
        walls.append(time.perf_counter() - t0)
        if marks is not None:
            marks["t0"], marks["t1"] = t0, t0 + walls[-1]

    prefixes = wl.prefixes(spark)
    prefix_s, rss_mb = {}, 0.0
    for name, make in prefixes:
        reps = []
        for r in range(REPS):
            sc.setJobDescription(f"layer:{name}:{r}")
            with WorkerRssSampler() as rss:
                t0 = time.perf_counter()
                noop(make())
                reps.append(time.perf_counter() - t0)
            if name == "window_kernel":
                rss_mb = max(rss_mb, rss.peak_mb)
        prefix_s[name] = statistics.median(reps)
    make = dict(prefixes)
    sc.setJobDescription("layer:arrow")
    width = len(feature_cols(make["window_kernel"]()))
    arrow_prefix_s = median_time(lambda: noop(identity_arrow(make["sessionize"](), width)))
    sc.setJobDescription("layer:plan")
    plan_s = median_time(lambda: prefixes[-1][1]()._jdf.queryExecution().executedPlan())
    sc.setJobDescription("layer:rows")
    rows_out = make["turn_metrics"]().count()
    if is_checkpoint:
        sc.setJobDescription("layer:build")
        build_s = median_time(lambda: noop(marks["written_df"]))
    sc.setJobDescription(None)

    spark.stop()  # flushes the event log
    log = EventLog(log_dir)
    out = {k: 0.0 for k in metric_names()}
    prev_s, prev_ev = 0.0, None
    for name, _ in prefixes:
        ev = log.stats(log.jobs_where(lambda j, n=name: j.description == f"layer:{n}:{REPS - 1}"))
        out[f"{name}.self_s"] = prefix_s[name] - prev_s
        for k in ADDITIVE:
            out[f"{name}.{k}"] = ev[k] - (prev_ev[k] if prev_ev else 0.0)
        out[f"{name}.tasks"] = ev["last_stage_tasks"]
        out[f"{name}.task_skew"] = ev["task_skew"]
        if name == "window_kernel":
            out["window_kernel.arrow_s"] = arrow_prefix_s - prefix_s["sessionize"]
            out["window_kernel.compute_s"] = out["window_kernel.self_s"] - out["window_kernel.arrow_s"]
            out["window_kernel.worker_rss_mb"] = rss_mb
            out["window_kernel.rows_per_task_max"] = ev["last_stage_rows_max"]
        prev_s, prev_ev = prefix_s[name], ev
    out["turn_metrics.rows_out"] = rows_out
    out["pipeline.plan_s"] = plan_s
    out["trace.op_wall_s"] = statistics.median(walls)
    out["trace.overhead_s"] = out["trace.op_wall_s"] - untraced_wall_s
    if is_checkpoint:
        cp = checkpoint_metrics(wl, log, marks, build_s, f"op:{TRACED_OPS - 1}")
        out.update({f"checkpoint.{k}": v for k, v in cp.items()})
    units = metric_names()
    return {k: (v, units[k]) for k, v in out.items()}
