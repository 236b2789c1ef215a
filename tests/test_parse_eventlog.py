"""tools/parse_eventlog.py reads both event-log layouts: a single file
and a rolling-log ``eventlog_v2_<app-id>/`` directory, whose
``events_<n>_*`` parts must be read in numeric order of ``<n>``; it
summarizes job groups, and one group's SQL executions."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

TOOL = os.path.join(
    os.path.dirname(__file__), os.pardir, "tools", "parse_eventlog.py"
)


def _write(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _job_start(jid, t, name):
    return {
        "Event": "SparkListenerJobStart", "Job ID": jid,
        "Submission Time": t,
        "Stage Infos": [{"Stage ID": jid, "Stage Name": name}],
    }


def _run(path):
    return _run_with(path)


def _run_with(path, *args):
    return subprocess.run(
        [sys.executable, TOOL, str(path), *args],
        check=True, capture_output=True, text=True,
    ).stdout


def test_rolling_dir_and_single_file(tmp_path):
    app = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 1000},
        _job_start(0, 2000, "collect at a"),
    ]
    mid = [
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2500},
        _job_start(1, 5000, "save at b"),
    ]
    end = [
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 6000},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # events_10 sorts before events_2 lexically: a lexical read would
    # see job 1 end before it starts
    _write(d / "events_1_local-1", app)
    _write(d / "events_2_local-1", mid)
    _write(d / "events_10_local-1", end)
    (d / "appstatus_local-1").touch()
    out = _run(d)
    assert "dur     1.0s save at b" in out, out
    assert "total inter-job gap: 3.5s" in out, out

    single = tmp_path / "local-1"
    _write(single, app + mid + end)
    assert _run(single) == out


def test_job_group_column_and_busy_wall(tmp_path):
    """Each job line names its job group, and each group's summary has
    its job count, summed job wall and busy wall (the union of its job
    intervals): two overlapping jobs of one group sum to more wall than
    the group was busy."""
    def grouped(jid, t, name, group):
        ev = _job_start(jid, t, name)
        ev["Properties"] = {"spark.jobGroup.id": group}
        return ev

    def end(jid, t):
        return {"Event": "SparkListenerJobEnd", "Job ID": jid,
                "Completion Time": t}

    log = tmp_path / "local-2"
    _write(log, [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        grouped(0, 1000, "save at a", "run-1"),
        grouped(1, 1500, "save at b", "run-1"),
        end(0, 3000),
        end(1, 2500),
        grouped(2, 4000, "collect at c", "run-1"),
        end(2, 5000),
        _job_start(3, 6000, "count at d"),
        end(3, 6500),
    ])
    out = _run(log)
    assert re.search(r"dur     1\.0s save at b +run-1 ", out), out
    assert re.search(r"@    6\.0s dur     0\.5s count at d +- ", out), out
    # run-1: walls 2.0 + 1.0 + 1.0 = 4.0 s; busy [1,3] + [4,5] = 3.0 s
    assert "group run-1: 3 jobs, job wall 4.0s, busy 3.0s" in out, out
    assert "group -: 1 jobs, job wall 0.5s, busy 0.5s" in out, out


def test_sql_execution_summary_for_one_group(tmp_path):
    """With a job group, each SQL execution that ran jobs of the group
    gets a line: its job count, its span, the input records of its
    tasks (a stage reused by a later job counts once) and the scan
    nodes of its final adaptive plan; executions of other groups are
    left out."""
    sql = "org.apache.spark.sql.execution.ui."

    def job(jid, t, stages, group, eid):
        ev = _job_start(jid, t, f"job {jid}")
        ev["Stage Infos"] = [{"Stage ID": s, "Stage Name": f"s{s}"}
                             for s in stages]
        ev["Properties"] = {"spark.jobGroup.id": group,
                            "spark.sql.execution.id": str(eid)}
        return ev

    def end(jid, t):
        return {"Event": "SparkListenerJobEnd", "Job ID": jid,
                "Completion Time": t}

    def task(stage, records):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Input Metrics": {"Records Read": records}}}

    def plan(*scans):
        return {"nodeName": "AdaptiveSparkPlan", "children": [
            {"nodeName": "WriteFiles", "children": [
                {"nodeName": "Union", "children": [
                    {"nodeName": s, "children": []} for s in scans]}]}]}

    log = tmp_path / "local-3"
    _write(log, [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 7,
         "time": 1000, "sparkPlanInfo": plan("Scan parquet ")},
        job(0, 1100, [0], "run-1", 7),
        task(0, 40), task(0, 60),
        end(0, 1400),
        job(1, 1500, [0, 1], "run-1", 7),  # stage 0 reused: skipped
        task(1, 5),
        end(1, 1800),
        # the adaptive plan replaces the one the execution started with
        {"Event": sql + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7,
         "sparkPlanInfo": plan("Scan parquet ", "Scan ExistingRDD",
                               "Scan parquet ")},
        {"Event": sql + "SparkListenerSQLExecutionEnd", "executionId": 7,
         "time": 2000},
        # no execution events: the span is its jobs' range
        job(2, 2500, [2], "run-1", 9),
        task(2, 3),
        end(2, 3000),
        job(3, 3100, [3], "run-2", 10),
        task(3, 1000),
        end(3, 3200),
    ])
    out = _run_with(log, "run-1")
    assert re.search(
        r"sql +7 @ +1\.0s span +1\.00s jobs +2 records +105 "
        r"scans ExistingRDDx1 parquetx2 +WriteFiles", out), out
    assert re.search(r"sql +9 @ +2\.5s span +0\.50s jobs +1 records +3 "
                     r"scans - +-$", out, re.M), out
    assert "sql   10" not in out, out
    assert "group run-1: 2 SQL executions, 3 jobs, 108 input records" in out
    # without a group argument, no SQL lines
    assert not re.search(r"^sql ", _run(log), re.M)
