"""Event-log parser: exact sums on a hand-written log, and a parse of a
small log recorded from Spark (q3_shipping_priority and
bpe_learn_merges at a small scale, each with ``w|<query>|build`` and
``w|<query>|exec`` job groups; trimmed to the fields the parser reads).

Run: python3 -m pytest perfbench/tests/test_eventlog.py
"""

import json
import os
import sys

from pytest import approx

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import EventLog  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


def _job(jid, group, t0, t1, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def _stage(sid, n_tasks, t0, t1):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Number of Tasks": n_tasks, "Submission Time": t0, "Completion Time": t1}}


def _task(sid, ms, gc=0, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
            "Task Metrics": {"JVM GC Time": gc, "Memory Bytes Spilled": spill,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _plan(*names):
    node = {"nodeName": names[-1], "children": []}
    for n in reversed(names[:-1]):
        node = {"nodeName": n, "children": [node]}
    return node


def synthetic_log() -> EventLog:
    events = []
    # job 0 (build group): stage 0 with one task, stage 1 with two
    events += _job(0, "w|a|build", 1000, 3000, [0, 1])
    events += [_stage(0, 1, 1000, 1500), _stage(1, 2, 1500, 3000)]
    events += [_task(0, 400, gc=10, shuffle=100),
               _task(1, 700, shuffle=50, spill=8), _task(1, 800)]
    # job 1 (same build group) overlaps job 0; stage 2 was skipped (never completed)
    events += _job(1, "w|a|build", 2500, 4000, [2, 3])
    events += [_stage(3, 1, 2500, 4000), _task(3, 1500, gc=20)]
    # job 2 (exec group) after a gap of 1 s with no job running
    events += _job(2, "w|a|exec", 5000, 6000, [4])
    events += [_stage(4, 4, 5000, 6000)] + [_task(4, 250) for _ in range(4)]
    # SQL execution of the exec group: the adaptive update replaces the plan
    events += [
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7, "jobGroupId": "w|a|exec",
         "sparkPlanInfo": _plan("AdaptiveSparkPlan", "Exchange", "Scan")},
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 7,
         "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan", "children": [
             _plan("SortMergeJoin", "Exchange", "Scan"),
             _plan("ShuffleQueryStage", "Exchange", "Scan"),
             _plan("BroadcastQueryStage", "BroadcastExchange", "Scan"),
             _plan("ReusedExchange")]}},
    ]
    return EventLog(events)


def test_totals_sum_tasks_and_single_task_stages():
    log = synthetic_log()
    build = log.totals(log.select(lambda j: j.group == "w|a|build"))
    assert build["jobs"] == 2
    assert build["task_s"] == approx(0.4 + 0.7 + 0.8 + 1.5)
    assert build["gc_s"] == approx(0.03)
    assert build["shuffle_write_bytes"] == 150
    assert build["spill_bytes"] == 8
    # stages 0 and 3 have one task: 0.5 s + 1.5 s; skipped stage 2 is ignored
    assert build["one_task_stage_s"] == approx(2.0)
    exe = log.totals(log.select(lambda j: j.group == "w|a|exec"))
    assert exe == {"jobs": 1, "task_s": 1.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
                   "spill_bytes": 0, "one_task_stage_s": 0.0}


def test_busy_time_merges_overlapping_jobs_and_clips_to_window():
    log = synthetic_log()
    assert log.busy_s(1000, 6000) == 4.0  # [1000, 4000] and [5000, 6000]
    assert log.busy_s(3500, 5500) == 1.0  # clipped: [3500, 4000] and [5000, 5500]
    assert log.busy_s(4000, 5000) == 0.0


def test_exchanges_counted_in_final_plan_only():
    log = synthetic_log()
    # Exchange, Exchange and BroadcastExchange; ReusedExchange runs nothing
    assert log.exchanges(lambda g: g == "w|a|exec") == 3
    assert log.exchanges(lambda g: g == "w|a|build") == 0


def test_recorded_log():
    path = os.path.join(HERE, "data", "eventlog_small.jsonl")
    log = EventLog.read(path)
    with open(path) as f:
        starts = [e for e in map(json.loads, f) if e["Event"] == "SparkListenerJobStart"]

    def group_jobs(g):
        return sum(1 for e in starts if e["Properties"].get("spark.jobGroup.id") == g)

    for g in ("w|bpe_learn_merges|build", "w|bpe_learn_merges|exec",
              "w|q3_shipping_priority|exec"):
        assert len(log.select(lambda j, g=g: j.group == g)) == group_jobs(g) > 0
    # q3 builds a lazy plan: no job runs until the write
    assert not log.select(lambda j: j.group == "w|q3_shipping_priority|build")
    assert all(j.end_ms is not None for j in log.jobs.values())
    q3 = log.totals(log.select(lambda j: j.group == "w|q3_shipping_priority|exec"))
    assert q3["task_s"] > 0 and q3["shuffle_write_bytes"] > 0
    assert log.exchanges(lambda g: g == "w|q3_shipping_priority|exec") == 3
    lo = min(j.submit_ms for j in log.jobs.values())
    hi = max(j.end_ms for j in log.jobs.values())
    assert 0 < log.busy_s(lo, hi) <= (hi - lo) / 1000
