"""Fold a Spark event log into per-job-group engine counters.

The benchmark tags every timed operation with ``setJobGroup`` and runs
the traced session with ``spark.eventLog.enabled`` (uncompressed, not
rolling), so each line of the log is one JSON listener event. This
module reads only what Spark itself recorded:

* jobs, completed stages and finished tasks per job group;
* task metrics summed over tasks: executor run, CPU and deserialize
  time, JVM GC time, shuffle read and write bytes, spilled bytes;
* AQE re-plans (``SparkListenerSQLAdaptiveExecutionUpdate``), mapped to
  the job group of their SQL execution;
* scheduler overhead per stage: stage wall (submission to completion)
  minus its longest task, summed over stages.
"""

from __future__ import annotations

import json
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

FIELDS = (
    "jobs", "stages", "tasks", "aqe_updates", "executor_run_s", "executor_cpu_s",
    "executor_deserialize_s", "jvm_gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "scheduler_overhead_s",
)

_MB = 1024.0 * 1024.0


def _empty() -> dict[str, float]:
    return {f: 0 for f in FIELDS}


def fold(path: str) -> dict[str, dict[str, float]]:
    """Per job group (``None`` for untagged work), the counters above."""
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    longest_task: dict[int, float] = defaultdict(float)
    stage_wall: dict[int, float] = {}
    out: dict[str | None, dict[str, float]] = defaultdict(_empty)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                out[group]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == SQL_START:
                exec_group[e["executionId"]] = e.get("jobGroupId")
            elif kind == AQE_UPDATE:
                out[exec_group.get(e["executionId"])]["aqe_updates"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                c = out[stage_group.get(sid)]
                c["tasks"] += 1
                longest_task[sid] = max(
                    longest_task[sid], (info["Finish Time"] - info["Launch Time"]) / 1e3
                )
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["executor_deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                c["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / _MB
                wr = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
                c["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / _MB
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Completion Time" in si and "Submission Time" in si:
                    stage_wall[si["Stage ID"]] = (
                        si["Completion Time"] - si["Submission Time"]
                    ) / 1e3

    for sid, wall in stage_wall.items():
        c = out[stage_group.get(sid)]
        c["stages"] += 1
        c["scheduler_overhead_s"] += max(0.0, wall - longest_task[sid])
    return dict(out)


def total(per_group: dict, groups) -> dict[str, float]:
    """Sum the counters of the given job groups."""
    acc = _empty()
    for g in groups:
        for k, v in per_group.get(g, {}).items():
            acc[k] += v
    return acc
