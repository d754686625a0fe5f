"""Pins the event-log fold on a fragment of a real Spark 4 log: two
grouped spans (one with ``:detail``) and one ungrouped job."""

import json
import os

import eventlog

FRAGMENT = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_fragment.jsonl")


def _events(kind):
    with open(FRAGMENT) as fh:
        return [e for e in map(json.loads, fh) if e["Event"] == kind]


def test_fold_groups_pins_fragment():
    groups = eventlog.read_log(FRAGMENT)
    assert groups == {
        "indexer.read_shard": {
            "jobs": 2,
            "tasks": 3,
            "executor_run_ms": 189,
            "executor_cpu_ms": 82.746819,
            "deserialize_ms": 85,
            "gc_ms": 0,
            "shuffle_write_bytes": 118,
            "spill_bytes": 0,
            "input_bytes": 0,
        },
        "operators.exec:q1": {
            "jobs": 3,
            "tasks": 6,
            "executor_run_ms": 163,
            "executor_cpu_ms": 49.691323,
            "deserialize_ms": 15,
            "gc_ms": 49,
            "shuffle_write_bytes": 507,
            "spill_bytes": 0,
            "input_bytes": 0,
        },
        eventlog.UNGROUPED: {
            "jobs": 1,
            "tasks": 1,
            "executor_run_ms": 10,
            "executor_cpu_ms": 10.482212,
            "deserialize_ms": 1,
            "gc_ms": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "input_bytes": 0,
        },
    }


def test_every_job_and_task_is_counted_once():
    groups = eventlog.read_log(FRAGMENT)
    assert sum(g["jobs"] for g in groups.values()) == len(_events("SparkListenerJobStart"))
    assert sum(g["tasks"] for g in groups.values()) == len(_events("SparkListenerTaskEnd"))
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in _events("SparkListenerTaskEnd"))
    assert sum(g["executor_run_ms"] for g in groups.values()) == run_ms


def test_fold_spans_sums_detail_groups():
    spans = eventlog.fold_spans(
        {
            "operators.build:q1": dict.fromkeys(eventlog.COUNTERS, 1),
            "operators.build:q9": dict.fromkeys(eventlog.COUNTERS, 2),
            "indexer.read_shard": dict.fromkeys(eventlog.COUNTERS, 5),
        }
    )
    assert spans["operators.build"] == dict.fromkeys(eventlog.COUNTERS, 3)
    assert spans["indexer.read_shard"]["tasks"] == 5


def test_skipped_stage_keeps_its_first_job_group():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 7}},
        # job 1 reuses stage 0's shuffle output: lists it, runs only stage 1
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 3}},
    ]
    groups = eventlog.fold_groups(json.dumps(e) for e in lines)
    assert (groups["a"]["tasks"], groups["a"]["executor_run_ms"]) == (1, 7)
    assert (groups["b"]["tasks"], groups["b"]["executor_run_ms"]) == (1, 3)
