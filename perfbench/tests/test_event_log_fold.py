"""The stdlib event-log fold on a synthetic log with two job groups."""

import json

from collections import Counter

from perfbench.trace import SPARK_COUNTERS, attribute_jobs, fold_event_log, self_times


def _task(stage, run_ms, cpu_ns, *, shuffle_w=0, shuffle_r=0, spill=0, python_ms=None):
    acc = [{"ID": 1, "Name": "number of output rows", "Update": "5"}]
    if python_ms is not None:
        acc.append({"ID": 2, "Name": "time to run Python workers", "Update": str(python_ms)})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1,
            "Executor Deserialize Time": 2,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_r, "Fetch Wait Time": 3},
        },
    }


def _log():
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb:3"}},
        _task(0, 100, 50_000_000, shuffle_w=400),
        _task(0, 120, 60_000_000, shuffle_w=600),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        _task(1, 30, 10_000_000, shuffle_r=1000, spill=7),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "pb:5"}},
        _task(2, 40, 20_000_000, python_ms=25),
        _task(2, 60, 30_000_000, python_ms=35),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        # a job with a stage that was skipped: it never completes
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2500,
         "Stage IDs": [3, 4], "Properties": {"spark.jobGroup.id": "pb:5"}},
        _task(4, 10, 5_000_000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 4}},
    ]
    return [json.dumps(e) + "\n" for e in events] + ["\n"]


def test_fold_sums_counters_per_group():
    groups = {}
    for job in fold_event_log(_log()).values():
        groups.setdefault(job["group"], Counter()).update({k: job[k] for k in SPARK_COUNTERS})
    a, b = groups["pb:3"], groups["pb:5"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert (a["run_ms"], a["cpu_ns"]) == (250, 120_000_000)
    assert (a["shuffle_write_bytes"], a["shuffle_read_bytes"], a["spill_bytes"]) == (1000, 1000, 14)
    assert (a["gc_ms"], a["deserialize_ms"], a["fetch_wait_ms"], a["python_ms"]) == (3, 6, 9, 0)
    assert (b["jobs"], b["stages"], b["tasks"]) == (2, 2, 3)
    assert (b["run_ms"], b["cpu_ns"], b["python_ms"]) == (110, 55_000_000, 60)
    assert (b["shuffle_write_bytes"], b["spill_bytes"]) == (0, 0)


def test_jobs_without_a_span_group_are_billed_by_time():
    jobs = fold_event_log(_log())
    jobs[1]["group"] = "a-streaming-run-id"
    spans = [
        {"id": 3, "name": "op:a", "start": 0.0, "end": 0.9, "wall_start": 0.5, "parent": None},
        {"id": 5, "name": "op:b", "start": 1.0, "end": 3.0, "wall_start": 1.5, "parent": None},
        {"id": 6, "name": "queries.build", "start": 1.2, "end": 1.9, "wall_start": 1.7, "parent": 5},
    ]
    owner = attribute_jobs(jobs, spans)
    assert owner == {0: 3, 1: 6, 2: 5}


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "start": 5.0, "end": 6.0, "parent": 0},
    ]
    assert self_times(spans) == {0: 6.0, 1: 3.0, 2: 1.0}
