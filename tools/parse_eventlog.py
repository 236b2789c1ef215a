"""Summarize a Spark event log: per-job wall + gaps between jobs.

Usage: python tools/parse_eventlog.py <spark.eventLog.dir>/<app-id>
       python tools/parse_eventlog.py <spark.eventLog.dir>/eventlog_v2_<app-id>/
The log is either one file or a rolling-log directory, whose
``events_<n>_<app-id>`` files are read in numeric order of ``<n>``.
The event log must be uncompressed (``spark.eventLog.compress=false``).
Prints one line per job (start offset, duration, first stage name) plus
driver-side gaps > 1s between consecutive jobs — the gaps are where
driver/Python time (collects, localCheckpoint setup, thread contention)
hides.
"""

from __future__ import annotations

import json
import os
import re
import sys

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
    t_app0 = None
    for ev in events(sys.argv[1]):
        e = ev.get("Event")
        if e == "SparkListenerApplicationStart":
            t_app0 = ev["Timestamp"]
        elif e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = dict(
                start=ev["Submission Time"],
                stages=[s["Stage ID"] for s in ev["Stage Infos"]],
                desc=(ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )[:80],
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

    prev_end = t_app0
    total_gap = 0.0
    for jid in sorted(jobs):
        j = jobs[jid]
        end = j.get("end", j["start"])
        dur = (end - j["start"]) / 1000.0
        gap = (j["start"] - prev_end) / 1000.0 if prev_end else 0.0
        total_gap += max(gap, 0.0)
        off = (j["start"] - t_app0) / 1000.0 if t_app0 else 0.0
        name = stage_names.get(j["stages"][-1], "?") if j["stages"] else "?"
        mark = f"  GAP {gap:7.1f}s" if gap > 1.0 else ""
        heavy = [
            f"s{sid}:{stage_times[sid]:.1f}s"
            for sid in j["stages"]
            if stage_times.get(sid, 0) > 2.0
        ]
        print(
            f"job {jid:3d} @{off:7.1f}s dur {dur:7.1f}s {name[:60]:60s}"
            f" {' '.join(heavy)}{mark}"
        )
        prev_end = max(prev_end or end, end)
    print(f"total inter-job gap: {total_gap:.1f}s")


if __name__ == "__main__":
    main()
