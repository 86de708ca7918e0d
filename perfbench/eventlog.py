"""Offline parse of an uncompressed, non-rolling Spark event log.

The log is one JSON object per line. This module charges each job to
its job group (``spark.jobGroup.id``), each stage and task to the job
that first listed the stage, and sums per group: jobs, stages that
ran, tasks, executor run time, shuffle bytes read and written, bytes
spilled to disk, job wall intervals, and the rows emitted by scans of
Python data sources — the ``kafka_segment`` archive reader, the only
one the benchmark uses — found by accumulator id in the SQL plan
events (``BatchScan kafka_segment`` in batch plans, ``MicroBatchScan``
in streaming ones; both report rows returned from Python workers).
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
PYTHON_SOURCE_METRIC = "data returned from Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    segment_rows: int = 0
    #: (submission ms, completion ms) per job
    job_intervals: list[tuple[int, int]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k in (
            "jobs",
            "stages",
            "tasks",
            "executor_run_ms",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
            "segment_rows",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals.extend(other.job_intervals)


def _segment_row_accums(plan: dict, out: set[int]) -> None:
    metrics = {m.get("name"): m for m in plan.get("metrics", ())}
    if "Scan" in plan.get("nodeName", "") and PYTHON_SOURCE_METRIC in metrics:
        rows = metrics.get("number of output rows")
        if rows is not None:
            out.add(int(rows["accumulatorId"]))
    for child in plan.get("children", ()):
        _segment_row_accums(child, out)


def parse(lines: Iterable[str]) -> dict[str | None, GroupStats]:
    """Per-job-group stats from event-log lines. Jobs without a group
    are charged to the ``None`` key."""
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str | None] = {}
    seg_accums: set[int] = set()
    stats: dict[str | None, GroupStats] = {}

    def of(group: str | None) -> GroupStats:
        return stats.setdefault(group, GroupStats())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[jid] = group
            job_start[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
            of(group).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                of(job_group[jid]).job_intervals.append(
                    (job_start[jid], ev.get("Completion Time", job_start[jid]))
                )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            of(stage_group.get(sid)).stages += 1
        elif kind == "SparkListenerTaskEnd":
            st = of(stage_group.get(ev["Stage ID"]))
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            st.executor_run_ms += m.get("Executor Run Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("ID") in seg_accums:
                    st.segment_rows += int(acc.get("Update", 0))
        elif kind in (SQL_START, SQL_AQE):
            _segment_row_accums(ev.get("sparkPlanInfo") or {}, seg_accums)
    return stats


def parse_file(path: str) -> dict[str | None, GroupStats]:
    with open(path) as f:
        return parse(f)


def merge(parts: Iterable[dict[str | None, GroupStats]]) -> dict[str | None, GroupStats]:
    """Combine the per-group stats of several logs (one per session)."""
    out: dict[str | None, GroupStats] = {}
    for part in parts:
        for group, st in part.items():
            out.setdefault(group, GroupStats()).add(st)
    return out
