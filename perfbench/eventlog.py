"""Parse a Spark event log into per-job-group executor numbers.

The traced run turns on ``spark.eventLog.enabled`` and labels every job
with the id of the span that launched it (``perfbench/spans.py``). This
module reads the log back (JSON lines, uncompressed) and sums, per job
group: jobs, stages, tasks, executor run/CPU/GC time, shuffle-write and
spill bytes, and ``max_task_share`` — the largest single task's share of
the run time of the group's heaviest stage (1.0 = one task did all of it,
the skew signal).
"""

from __future__ import annotations

import json
import os

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "max_task_share",
)


def read_events(log_dir: str):
    """Yield the events of every log file in ``log_dir``."""
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def parse(events) -> tuple[dict[int, dict], dict[int, dict]]:
    """Return (jobs, stages).

    jobs:   job id -> {"group": job group or None, "stages": [stage ids]}
            A stage that a later job reuses (listed there but skipped) is
            listed only under the first job that names it.
    stages: stage id -> {"tasks", "run_ms" (list per task), "cpu_ns",
            "gc_ms", "shuffle_write_bytes", "spill_bytes"} for stages that
            ran at least one task (skipped stages are absent).
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    claimed: set[int] = set()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            own = [s for s in ev.get("Stage IDs") or [] if s not in claimed]
            claimed.update(own)
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": own,
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = stages.setdefault(
                ev["Stage ID"],
                {"tasks": 0, "run_ms": [], "cpu_ns": 0, "gc_ms": 0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0},
            )
            st["tasks"] += 1
            st["run_ms"].append(m.get("Executor Run Time", 0))
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return jobs, stages


def group_totals(jobs: dict[int, dict], stages: dict[int, dict], groups) -> dict:
    """Sum the Spark numbers of every job whose group is in ``groups``."""
    groups = set(groups)
    out = dict.fromkeys(SPARK_KEYS, 0)
    heaviest = (0, 0.0)  # (stage run ms, max task share)
    for job in jobs.values():
        if job["group"] not in groups:
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None:
                continue
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            run = sum(st["run_ms"])
            out["executor_run_s"] += run / 1e3
            out["executor_cpu_s"] += st["cpu_ns"] / 1e9
            out["gc_s"] += st["gc_ms"] / 1e3
            out["shuffle_write_bytes"] += st["shuffle_write_bytes"]
            out["spill_bytes"] += st["spill_bytes"]
            if run > heaviest[0]:
                heaviest = (run, max(st["run_ms"]) / run)
    out["max_task_share"] = heaviest[1]
    return out
