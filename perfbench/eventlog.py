"""Read Spark's own event log and sum task metrics per group of jobs.

The traced session runs with ``spark.eventLog.enabled`` and compression off
(Spark 4 writes zstd by default, which the standard library cannot read).
Jobs are grouped by the job description the benchmark sets before each
probe, or by the call site Spark records for them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


class Job:
    def __init__(self, description: str, call_site: str, stage_ids: list[int]):
        self.description = description
        self.call_site = call_site
        self.stage_ids = stage_ids


class EventLog:
    """Jobs and per-stage task metrics of one application's event log."""

    def __init__(self, log_dir: str):
        self.jobs: list[Job] = []
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task metric dicts
        files = sorted(
            f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f) and "appstatus" not in os.path.basename(f) and not f.endswith(".crc")
        )
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs.append(
                Job(
                    props.get("spark.job.description", ""),
                    props.get("callSite.short", ""),
                    list(e["Stage IDs"]),
                )
            )
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            m, info = e["Task Metrics"], e["Task Info"]
            self.tasks.setdefault(e["Stage ID"], []).append(
                {
                    "run_ms": m["Executor Run Time"],
                    "cpu_ns": m["Executor CPU Time"],
                    "gc_ms": m["JVM GC Time"],
                    "spill_b": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                    "shuffle_w_b": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    "shuffle_r_rec": m["Shuffle Read Metrics"]["Total Records Read"],
                    "input_rec": m["Input Metrics"]["Records Read"],
                    "wall_ms": info["Finish Time"] - info["Launch Time"],
                }
            )

    def jobs_where(self, pred) -> list[Job]:
        return [j for j in self.jobs if pred(j)]

    def stats(self, jobs: list[Job]) -> dict:
        """Summed task metrics over ``jobs``, plus the skew and largest input
        of the last stage that ran tasks (the stage holding the top operator)."""
        stages = sorted({s for j in jobs for s in j.stage_ids if s in self.tasks})
        tasks = [t for s in stages for t in self.tasks[s]]
        last = self.tasks[stages[-1]] if stages else []
        runs = [t["run_ms"] for t in last]
        med = statistics.median(runs) if runs else 0.0
        return {
            "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t["shuffle_w_b"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill_b"] for t in tasks) / 2**20,
            "task_skew": max(runs) / med if med else 0.0,
            "input_records": sum(t["input_rec"] for t in tasks),
            "last_stage_tasks": len(last),
            "last_stage_rows_max": max((t["shuffle_r_rec"] + t["input_rec"] for t in last), default=0),
        }
