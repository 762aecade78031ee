"""Parse an uncompressed, single-file Spark event log into per-job,
per-stage and per-SQL-execution records, and sum them over a chosen
set of jobs.

Jobs are chosen by their job group (``spark.jobGroup.id``), which the
benchmark sets around each of its own calls, or by submission time.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

EXCHANGE_NODES = frozenset({"Exchange", "BroadcastExchange"})


@dataclass
class Job:
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    n_tasks: int = 0
    submit_ms: int | None = None
    complete_ms: int | None = None
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Execution:
    group: str | None
    plan: dict


class EventLog:
    def __init__(self, events: Iterable[dict]):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.executions: dict[int, Execution] = {}
        for e in events:
            kind = e.get("Event", "").rsplit(".", 1)[-1]
            handler = getattr(self, "_on_" + kind, None)
            if handler:
                handler(e)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(json.loads(line) for line in f if line.strip())

    def _stage(self, sid: int) -> Stage:
        return self.stages.setdefault(sid, Stage())

    def _on_SparkListenerJobStart(self, e: dict) -> None:
        self.jobs[e["Job ID"]] = Job(
            group=(e.get("Properties") or {}).get("spark.jobGroup.id"),
            submit_ms=e["Submission Time"],
            stages=list(e["Stage IDs"]),
        )

    def _on_SparkListenerJobEnd(self, e: dict) -> None:
        job = self.jobs.get(e["Job ID"])
        if job:
            job.end_ms = e["Completion Time"]

    def _on_SparkListenerStageCompleted(self, e: dict) -> None:
        info = e["Stage Info"]
        st = self._stage(info["Stage ID"])
        st.n_tasks = info["Number of Tasks"]
        st.submit_ms = info.get("Submission Time")
        st.complete_ms = info.get("Completion Time")

    def _on_SparkListenerTaskEnd(self, e: dict) -> None:
        st = self._stage(e["Stage ID"])
        info = e["Task Info"]
        st.task_ms += info["Finish Time"] - info["Launch Time"]
        m = e.get("Task Metrics") or {}
        st.gc_ms += m.get("JVM GC Time", 0)
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)

    def _on_SparkListenerSQLExecutionStart(self, e: dict) -> None:
        self.executions[e["executionId"]] = Execution(e.get("jobGroupId"), e["sparkPlanInfo"])

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e: dict) -> None:
        ex = self.executions.get(e["executionId"])
        if ex:
            ex.plan = e["sparkPlanInfo"]  # the last update is the final plan

    def select(self, pred: Callable[[Job], bool]) -> list[Job]:
        return [j for j in self.jobs.values() if pred(j)]

    def totals(self, jobs: list[Job]) -> dict:
        """Summed work of ``jobs``: task time, GC, shuffle write, spill,
        and the wall time of their single-task stages."""
        out = {"jobs": len(jobs), "task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "one_task_stage_s": 0.0}
        for sid in {s for j in jobs for s in j.stages}:
            st = self.stages.get(sid)
            if st is None or st.submit_ms is None:
                continue  # skipped stage: its shuffle output was reused
            out["task_s"] += st.task_ms / 1000
            out["gc_s"] += st.gc_ms / 1000
            out["shuffle_write_bytes"] += st.shuffle_write_bytes
            out["spill_bytes"] += st.spill_bytes
            if st.n_tasks == 1 and st.complete_ms is not None:
                out["one_task_stage_s"] += (st.complete_ms - st.submit_ms) / 1000
        return out

    def busy_s(self, lo_ms: float, hi_ms: float) -> float:
        """Seconds of [lo_ms, hi_ms] during which at least one job ran."""
        spans = sorted(
            (max(j.submit_ms, lo_ms), min(j.end_ms, hi_ms))
            for j in self.jobs.values()
            if j.end_ms is not None and j.submit_ms < hi_ms and j.end_ms > lo_ms
        )
        busy, cur_lo, cur_hi = 0.0, None, None
        for a, b in spans:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return busy / 1000

    def exchanges(self, group_pred: Callable[[str | None], bool]) -> int:
        """Exchange nodes in the final plans of the SQL executions whose
        job group matches."""
        def count(node: dict) -> int:
            own = 1 if node.get("nodeName") in EXCHANGE_NODES else 0
            return own + sum(count(c) for c in node.get("children", []))

        return sum(count(ex.plan) for ex in self.executions.values() if group_pred(ex.group))
