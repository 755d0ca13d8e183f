"""The event-log folder, on synthetic Spark listener events."""

import json

from perfbench.eventlog import FILE_WRITE, fold

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def job(job_id, group, stages, execution=None):
    props = {"spark.jobGroup.id": group} if group else {}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def stage_done(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


def task(sid, run_ms=1000, cpu_ns=5e8, shuffle=0, spill=0, read=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
        "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        "Input Metrics": {"Bytes Read": read}}}


def sql(eid, plan):
    return {"Event": SQL_START, "executionId": eid, "physicalPlanDescription": plan}


def lines(*events):
    return [json.dumps(e) + "\n" for e in events] + ["\n"]


def test_fold_attributes_jobs_stages_and_tasks_by_group():
    stats = fold(lines(
        sql(1, "Execute " + FILE_WRITE + "\n+- LocalTableScan"),
        job(0, "rules.a", [0, 1], execution=1),
        stage_done(0), stage_done(1),
        task(0, run_ms=1500, shuffle=2 * 2**20), task(1), task(1, spill=2**19),
        job(1, "rules.b", [2, 3]),
        stage_done(2),  # stage 3 was skipped: no completion event
        task(2, run_ms=250, cpu_ns=1e8),
        job(2, None, [4]), stage_done(4), task(4),
    ))
    a, b, none = stats["rules.a"], stats["rules.b"], stats[""]
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 3)
    assert a.task_s == 3.5 and a.jvm_cpu_s == 1.5
    assert a.shuffle_mb == 2.0 and a.spill_mb == 1.0
    assert (a.sql_execs, a.small_writes) == (1, 1)
    assert (b.jobs, b.stages, b.tasks, b.task_s) == (1, 1, 1, 0.25)
    assert b.sql_execs == 0
    assert none.jobs == 1


def test_small_writes_need_a_file_write_that_read_nothing():
    stats = fold(lines(
        sql(1, "Execute " + FILE_WRITE),  # write of a driver-built frame
        sql(2, "Execute " + FILE_WRITE + " Scan parquet"),  # reads a file
        sql(3, "Scan parquet"),  # a read, not a write
        job(0, "g", [0], execution=1), task(0),
        job(1, "g", [1], execution=2), task(1, read=4096),
        job(2, "g", [2], execution=3), task(2),
    ))
    assert stats["g"].sql_execs == 3
    assert stats["g"].small_writes == 1


def test_a_stage_shared_by_two_jobs_counts_once():
    stats = fold(lines(
        job(0, "g", [0, 1]), job(1, "g", [1, 2]),
        stage_done(0), stage_done(1), stage_done(1), stage_done(2),
    ))
    assert stats["g"].jobs == 2
    assert stats["g"].stages == 3


def test_execution_group_from_the_sql_event():
    stats = fold(lines(
        dict(sql(7, "Execute " + FILE_WRITE), jobGroupId="w"),
        job(0, "w", [0], execution=7), task(0),
    ))
    assert stats["w"].sql_execs == 1
    assert stats["w"].small_writes == 1
