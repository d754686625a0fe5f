"""Fold a Spark event log into per-span task counters.

The benchmark tags every Spark job with a job group named after the
span that issued it (``sparkContext.setJobGroup``). Spark writes the
group into each ``SparkListenerJobStart``'s properties; task metrics
arrive later in ``SparkListenerTaskEnd`` events that name only their
stage. This module maps stage → job group and sums the task metrics
per group. It reads the uncompressed, non-rolling log Spark writes
with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``.

A group name may carry detail after a colon (``operators.build:q1``);
``fold_spans`` sums the groups of one span name.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

#: Counter names, in the order they are reported.
COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "deserialize_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)
UNGROUPED = "(no group)"


def _task_counters(metrics: dict) -> dict[str, float]:
    shuffle_write = metrics.get("Shuffle Write Metrics") or {}
    inputs = metrics.get("Input Metrics") or {}
    return {
        "tasks": 1,
        "executor_run_ms": metrics.get("Executor Run Time", 0),
        # Spark reports CPU time in nanoseconds, run time in milliseconds
        "executor_cpu_ms": metrics.get("Executor CPU Time", 0) / 1e6,
        "deserialize_ms": metrics.get("Executor Deserialize Time", 0),
        "gc_ms": metrics.get("JVM GC Time", 0),
        "shuffle_write_bytes": shuffle_write.get("Shuffle Bytes Written", 0),
        "spill_bytes": metrics.get("Memory Bytes Spilled", 0)
        + metrics.get("Disk Bytes Spilled", 0),
        "input_bytes": inputs.get("Bytes Read", 0),
    }


def fold_groups(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """``{job group: {counter: total}}`` over one event log.

    Jobs without a group are folded under ``UNGROUPED``. A stage keeps
    the group of the first job that listed it: a later job that reuses
    its shuffle output lists it again as skipped, but runs none of its
    tasks.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(COUNTERS, 0))

    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            props = event.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or UNGROUPED
            bucket(group)["jobs"] += 1
            for stage_id in event.get("Stage IDs", ()):
                stage_group.setdefault(stage_id, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(event.get("Stage ID"), UNGROUPED)
            counters = bucket(group)
            for name, value in _task_counters(event.get("Task Metrics") or {}).items():
                counters[name] += value
    return out


def fold_spans(groups: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Sum ``fold_groups`` output by span name (the group up to ``:``)."""
    out: dict[str, dict[str, float]] = {}
    for group, counters in groups.items():
        span = group.split(":", 1)[0]
        total = out.setdefault(span, dict.fromkeys(COUNTERS, 0))
        for name, value in counters.items():
            total[name] += value
    return out


def read_log(path: str) -> dict[str, dict[str, float]]:
    with open(path) as fh:
        return fold_groups(fh)
