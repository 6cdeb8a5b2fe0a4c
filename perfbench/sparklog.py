"""Stdlib reader for Spark event logs (``spark.eventLog.enabled``).

The benchmark writes uncompressed, non-rolling logs into its own work
directory and reads the task-end records back for shuffle bytes, spill,
JVM GC time, failed tasks and task-time skew.
"""

from __future__ import annotations

import json
import os
import statistics


def read_events(directory: str):
    """Yield the JSON events of every log file in ``directory``, in name
    order.  Lines that are not JSON objects (a truncated last line of a
    live log) are skipped."""
    files = [os.path.join(directory, n) for n in sorted(os.listdir(directory))]
    for name in files:
        if not os.path.isfile(name):
            continue
        with open(name, encoding="utf-8") as f:
            for line in f:
                try:
                    event = json.loads(line)
                except ValueError:
                    continue
                if isinstance(event, dict):
                    yield event


def summarize(events, job_group=None) -> dict:
    """Task metrics summed over the jobs of ``job_group`` (all jobs when
    None).  ``task_skew`` is max ÷ median task run time within the stage
    that ran longest in total.  Stages are keyed by (application, stage
    id): every log starts a new application, whose stage ids restart at 0."""
    stage_ok = set()
    tasks_by_stage: dict = {}
    out = {"tasks": 0, "failed_tasks": 0, "shuffle_write_bytes": 0,
           "gc_ms": 0, "spill_bytes": 0}
    app = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerLogStart":
            app += 1
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if job_group is None or group == job_group:
                stage_ok.update((app, s) for s in ev.get("Stage IDs", []))
        elif kind == "SparkListenerTaskEnd" and (app, ev.get("Stage ID")) in stage_ok:
            out["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                out["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            out["shuffle_write_bytes"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            out["gc_ms"] += m.get("JVM GC Time", 0)
            out["spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            )
            tasks_by_stage.setdefault((app, ev["Stage ID"]), []).append(
                m.get("Executor Run Time", 0)
            )
    out["task_skew"] = 0.0
    if tasks_by_stage:
        longest = max(tasks_by_stage.values(), key=sum)
        median = statistics.median(longest)
        out["task_skew"] = max(longest) / median if median > 0 else 0.0
    return out
