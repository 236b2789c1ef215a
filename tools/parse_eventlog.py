"""Summarize a Spark event log: per-job wall + gaps between jobs.

Usage: python tools/parse_eventlog.py <spark.eventLog.dir>/<app-id> [<job group>]
       python tools/parse_eventlog.py <spark.eventLog.dir>/eventlog_v2_<app-id>/ [<job group>]
The log is either one file or a rolling-log directory, whose
``events_<n>_<app-id>`` files are read in numeric order of ``<n>``.
The event log must be uncompressed (``spark.eventLog.compress=false``).
Prints one line per job (start offset, duration, last stage name, job
group) plus driver-side gaps > 1s between consecutive jobs — the gaps
are where driver/Python time (collects, localCheckpoint setup, thread
contention) hides. Then one line per job group (``spark.jobGroup.id``:
a streaming query's run id, or ``-`` for jobs outside any group): its
job count, the sum of its job walls, and its busy wall, the union of
its job intervals. Jobs that run side by side make the sum exceed the
busy wall, and make the serial inter-job gap an undercount of the time
no job ran.

With a job group (a stream wave's run id) the jobs are followed by one
line per SQL execution that ran jobs of that group, in start order:
its job count, its span (execution start to end, or its jobs' first
start to last end when the log lacks the execution events), the
records its tasks read from storage, its scan nodes by kind in the
final (adaptive) plan (``parquet`` is a file read, ``ExistingRDD`` a
read of a checkpointed frame) and the plan's top node. The spans laid
end to end show a wave's critical path, and a store scanned by several
executions shows up as repeated ``parquet`` scans.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

_SQL = "org.apache.spark.sql.execution.ui."
_WRAPPERS = ("AdaptiveSparkPlan", "ResultQueryStage")
_EVENTS_RE = re.compile(r"^events_(\d+)_")


def event_files(path: str) -> list[str]:
    """The file itself, or a rolling-log dir's ``events_<n>_*`` files in
    numeric order of ``<n>`` (lexical order puts events_10 before
    events_2)."""
    if not os.path.isdir(path):
        return [path]
    parts = [
        (int(m.group(1)), name)
        for name in os.listdir(path)
        if (m := _EVENTS_RE.match(name))
    ]
    return [os.path.join(path, name) for _, name in sorted(parts)]


def events(path: str):
    for fn in event_files(path):
        with open(fn) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def main() -> None:
    jobs: dict[int, dict] = {}
    stage_names: dict[int, str] = {}
    stage_times: dict[int, float] = {}
    stage_records: Counter = Counter()
    sqls: dict[int, dict] = {}
    t_app0 = None
    for ev in events(sys.argv[1]):
        e = ev.get("Event")
        if e == "SparkListenerApplicationStart":
            t_app0 = ev["Timestamp"]
        elif e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = dict(
                start=ev["Submission Time"],
                stages=[s["Stage ID"] for s in ev["Stage Infos"]],
                group=props.get("spark.jobGroup.id") or "-",
                sql=props.get("spark.sql.execution.id"),
            )
            for s in ev["Stage Infos"]:
                stage_names[s["Stage ID"]] = s["Stage Name"]
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Submission Time" in si and "Completion Time" in si:
                stage_times[si["Stage ID"]] = (
                    si["Completion Time"] - si["Submission Time"]
                ) / 1000.0
        elif e == "SparkListenerTaskEnd":
            inp = (ev.get("Task Metrics") or {}).get("Input Metrics") or {}
            stage_records[ev["Stage ID"]] += inp.get("Records Read", 0)
        elif e in (_SQL + "SparkListenerSQLExecutionStart",
                   _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            rec = sqls.setdefault(ev["executionId"], {})
            rec["plan"] = ev["sparkPlanInfo"]
            if "time" in ev:
                rec["start"] = ev["time"]
        elif e == _SQL + "SparkListenerSQLExecutionEnd":
            sqls.setdefault(ev["executionId"], {})["end"] = ev["time"]

    prev_end = t_app0
    total_gap = 0.0
    for jid in sorted(jobs):
        j = jobs[jid]
        end = j.get("end", j["start"])
        dur = (end - j["start"]) / 1000.0
        gap = (j["start"] - prev_end) / 1000.0 if prev_end is not None else 0.0
        total_gap += max(gap, 0.0)
        off = (j["start"] - t_app0) / 1000.0 if t_app0 is not None else 0.0
        name = stage_names.get(j["stages"][-1], "?") if j["stages"] else "?"
        mark = f"  GAP {gap:7.1f}s" if gap > 1.0 else ""
        heavy = [
            f"s{sid}:{stage_times[sid]:.1f}s"
            for sid in j["stages"]
            if stage_times.get(sid, 0) > 2.0
        ]
        print(
            f"job {jid:3d} @{off:7.1f}s dur {dur:7.1f}s {name[:60]:60s}"
            f" {j['group']} {' '.join(heavy)}{mark}"
        )
        prev_end = end if prev_end is None else max(prev_end, end)
    print(f"total inter-job gap: {total_gap:.1f}s")
    for group, n, total, busy in group_summary(jobs):
        print(f"group {group}: {n} jobs, job wall {total:.1f}s, busy {busy:.1f}s")
    if len(sys.argv) > 2:
        group = sys.argv[2]
        rows = sql_summary(jobs, sqls, stage_records, group)
        for eid, start, n, span, records, scans, root in rows:
            off = (start - t_app0) / 1000.0 if t_app0 is not None else 0.0
            kinds = " ".join(f"{k}x{c}" for k, c in sorted(scans.items()))
            print(
                f"sql {eid:4d} @{off:7.1f}s span {span:6.2f}s jobs {n:3d}"
                f" records {records:8d} scans {kinds or '-':30s} {root[:50]}"
            )
        print(
            f"group {group}: {len(rows)} SQL executions,"
            f" {sum(r[2] for r in rows)} jobs,"
            f" {sum(r[4] for r in rows)} input records"
        )


def group_summary(jobs: dict[int, dict]) -> list[tuple[str, int, float, float]]:
    """(group, jobs, summed job wall s, busy wall s) per job group, in
    order of the group's first job; the busy wall is the length of the
    union of the group's [start, end] job intervals."""
    spans: dict[str, list[tuple[int, int]]] = {}
    for jid in sorted(jobs):
        j = jobs[jid]
        spans.setdefault(j["group"], []).append(
            (j["start"], j.get("end", j["start"]))
        )
    out = []
    for group, iv in spans.items():
        busy, reach = 0, min(iv)[0]  # reach: latest end so far
        for lo, hi in sorted(iv):
            busy += max(hi - max(lo, reach), 0)
            reach = max(reach, hi)
        total = sum(hi - lo for lo, hi in iv)
        out.append((group, len(iv), total / 1000.0, busy / 1000.0))
    return out


def scan_nodes(plan: dict) -> Counter:
    """Scan nodes of a ``sparkPlanInfo`` tree by kind: ``Scan parquet``
    -> ``parquet``, ``Scan ExistingRDD`` -> ``ExistingRDD``."""
    out: Counter = Counter()
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.get("nodeName", "")
        if name.startswith("Scan "):
            out[name[len("Scan "):].split(" ")[0]] += 1
        todo.extend(node.get("children") or [])
    return out


def root_node(plan: dict) -> str:
    """The top node of a ``sparkPlanInfo`` tree below the adaptive
    wrappers: what the execution did (a file write, an aggregate)."""
    while plan.get("nodeName") in _WRAPPERS and plan.get("children"):
        plan = plan["children"][0]
    return plan.get("nodeName", "?")


def sql_summary(
    jobs: dict[int, dict],
    sqls: dict[int, dict],
    stage_records: Counter,
    group: str,
) -> list[tuple[int, int, int, float, int, Counter, str]]:
    """(execution id, start ms, jobs, span s, input records, scan nodes,
    root plan node) per SQL execution that ran jobs of ``group``, in
    order of start."""
    mine: dict[int, list[dict]] = {}
    owner: dict[int, int] = {}  # stage -> execution of its first job
    for jid in sorted(jobs):
        j = jobs[jid]
        if j["group"] == group and j["sql"] is not None:
            eid = int(j["sql"])
            mine.setdefault(eid, []).append(j)
            for sid in j["stages"]:
                owner.setdefault(sid, eid)
    out = []
    for eid, js in mine.items():
        rec = sqls.get(eid, {})
        lo = rec.get("start", min(j["start"] for j in js))
        hi = rec.get("end", max(j.get("end", j["start"]) for j in js))
        # a stage reused by a later job is listed there too, but its
        # tasks ran once
        records = sum(n for sid, n in stage_records.items()
                      if owner.get(sid) == eid)
        plan = rec.get("plan", {})
        out.append(
            (eid, lo, len(js), (hi - lo) / 1000.0, records, scan_nodes(plan),
             root_node(plan) if plan else "-")
        )
    return sorted(out, key=lambda r: (r[1], r[0]))


if __name__ == "__main__":
    main()
