"""Per-window Spark counters from a finished event log (no Spark import).

A traced run creates its session with ``spark.eventLog.enabled``; after the
session stops, ``EventLog.parse`` reads the log once and ``window(t0, t1)``
sums what the jobs submitted inside a wall-clock window did. The benchmark
is one closed-loop client, so the jobs submitted while one of its calls runs
belong to that call. Windows are used instead of job-group ids alone
because some calls submit jobs from helper threads, which do not inherit the
caller's job group.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# plan nodes that are plumbing rather than operators: stage wrappers,
# exchanges, scans, adapters and write commands
_STRUCTURAL = (
    "AdaptiveSparkPlan", "WholeStageCodegen", "InputAdapter",
    "ColumnarToRow", "RowToColumnar", "AQEShuffleRead", "ShuffleQueryStage",
    "BroadcastQueryStage", "TableCacheQueryStage", "ResultQueryStage",
    "Exchange", "BroadcastExchange", "ShuffleExchange", "ReusedExchange",
    "Subquery", "SubqueryBroadcast", "ReusedSubquery", "Scan",
    "LocalTableScan", "InMemoryTableScan", "WriteFiles", "Execute",
    "OverwriteByExpression", "AppendData", "CommandResult",
    "DataWritingCommand",
)


def codegen_fallback_ops(plan: dict) -> int:
    """Operators of a ``sparkPlanInfo`` tree that run outside every
    WholeStageCodegen stage, plumbing nodes excluded."""

    def walk(node: dict, inside: bool) -> int:
        name = node.get("nodeName", "")
        if name.startswith("WholeStageCodegen"):
            inside = True
        elif name == "InputAdapter":
            inside = False
        own = 0 if inside or name.startswith(_STRUCTURAL) else 1
        return own + sum(walk(c, inside) for c in node.get("children", ()))

    return walk(plan, False)


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    codegen_fallback_ops: int = 0
    job_busy_s: float = 0.0

    def add(self, other: "Counters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class _Job:
    submitted_ms: int
    completed_ms: int = 0
    stages: list = field(default_factory=list)


class EventLog:
    def __init__(self) -> None:
        self.jobs: dict[int, _Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_done: dict[int, set] = {}
        self.task_metrics: dict[int, list] = {}
        self.executions: dict[int, tuple[int, dict]] = {}

    @classmethod
    def parse(cls, path: str) -> "EventLog":
        """Read an uncompressed, non-rolling event log file."""
        log = cls()
        with open(path) as f:
            for line in f:
                log._event(json.loads(line))
        return log

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = _Job(ev["Submission Time"], stages=list(ev["Stage IDs"]))
            self.jobs[ev["Job ID"]] = job
            for s in job.stages:   # a reused stage ran in its first job
                self.stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]].completed_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stage_done.setdefault(info["Stage ID"], set()).add(
                info.get("Stage Attempt ID", 0))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            out = m.get("Output Metrics") or {}
            self.task_metrics.setdefault(ev["Stage ID"], []).append((
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                wr.get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                out.get("Bytes Written", 0),
            ))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[ev["executionId"]] = (ev["time"],
                                                 ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            start = self.executions.get(ev["executionId"])
            if start is not None:   # the latest plan is the executed one
                self.executions[ev["executionId"]] = (start[0],
                                                     ev["sparkPlanInfo"])

    def window(self, t0: float, t1: float) -> Counters:
        """Counters of the jobs and SQL executions that started in
        ``[t0, t1]`` (epoch seconds)."""
        lo, hi = int(t0 * 1000), int(t1 * 1000) + 1
        c = Counters()
        spans = []
        for job_id, job in self.jobs.items():
            if not lo <= job.submitted_ms <= hi:
                continue
            c.jobs += 1
            spans.append((job.submitted_ms, job.completed_ms or hi))
            for s in job.stages:
                if self.stage_job[s] == job_id and s in self.stage_done:
                    c.stages += len(self.stage_done[s])
                    for rd, wr, sp, out in self.task_metrics.get(s, ()):
                        c.tasks += 1
                        c.shuffle_read_bytes += rd
                        c.shuffle_write_bytes += wr
                        c.spill_bytes += sp
                        c.output_bytes += out
        c.job_busy_s = _union_ms(spans) / 1000
        c.codegen_fallback_ops = sum(
            codegen_fallback_ops(plan)
            for t, plan in self.executions.values() if lo <= t <= hi)
        return c


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
