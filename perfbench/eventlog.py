"""Fold a Spark event log into per-job-group counters.

The benchmark runs each traced call under its own job group
(``SparkContext.setJobGroup``). Write jobs carry no Python call site
(``parquet at <unknown>:0``), so the job group is the only reliable
attribution. The log must be written uncompressed
(``spark.eventLog.compress=false``); it is JSON, one event per line.

Per group: jobs, stages (completed, so skipped stages do not count),
tasks, task seconds (executor run time), JVM CPU seconds (executor CPU
time; Python worker CPU is not in it), shuffle MB written, spill MB
(memory + disk), SQL executions, and ``small_writes``: file-writing
executions whose tasks read no input bytes (a write of a driver-built
or cached frame, paying a whole job for a handful of rows). Input
bytes serve only as a yes/no: on the local file system Spark counts
little more than parquet footers.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass

_MB = 1024 * 1024
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
FILE_WRITE = "InsertIntoHadoopFsRelationCommand"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    sql_execs: int = 0
    small_writes: int = 0


def fold(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Reduce event-log lines to ``{job group: GroupStats}``. Jobs
    without a group are folded under ``""``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_is_write: dict[int, bool] = {}
    exec_input: dict[int, int] = {}
    stage_exec: dict[int, int] = {}
    out: dict[str, GroupStats] = {}
    completed: set[int] = set()

    def group(name: str) -> GroupStats:
        return out.setdefault(name, GroupStats())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            group(g).jobs += 1
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), g)
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
                if eid is not None:
                    stage_exec.setdefault(sid, int(eid))
        elif kind == _SQL_START:
            eid = int(ev["executionId"])
            plan = ev.get("physicalPlanDescription") or ""
            exec_is_write[eid] = FILE_WRITE in plan
            if ev.get("jobGroupId"):
                exec_group.setdefault(eid, ev["jobGroupId"])
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid not in completed and sid in stage_group:
                completed.add(sid)
                group(stage_group[sid]).stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_group:
                continue
            m = ev.get("Task Metrics") or {}
            g = group(stage_group[sid])
            g.tasks += 1
            g.task_s += m.get("Executor Run Time", 0) / 1e3
            g.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.shuffle_mb += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
            )
            g.spill_mb += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB
            eid = stage_exec.get(sid)
            if eid is not None:
                exec_input[eid] = exec_input.get(eid, 0) + (
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0))

    for eid, g in exec_group.items():
        group(g).sql_execs += 1
        if exec_is_write.get(eid) and exec_input.get(eid, 0) == 0:
            group(g).small_writes += 1
    return out


def fold_file(path: str) -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return fold(f)
