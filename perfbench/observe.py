"""Outside-in observation: spans, /proc RSS sampling, filesystem deltas and
Spark event-log attribution.

Nothing here imports the engine. Spans are kept in memory and written out
when the run ends; every number is read from what the OS, the filesystem or
Spark already report.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

MIB = float(1 << 20)


def median(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around the calls
    the benchmark makes into the engine. Each span also tags the Spark jobs
    it submits with its own job group, so the event log can attribute task
    metrics to it."""

    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @staticmethod
    def group_of(span_id: int) -> str:
        return f"perfbench-span-{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_of(span_id), self.spans[span_id]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        rec = dict(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            run=self.run_id,
            start=time.time(),
            end=None,
            **attrs,
        )
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def self_times(self) -> dict[int, float]:
        """Span wall minus the part of it its child spans cover."""
        out = {}
        for s in self.spans:
            kids = [
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
            ]
            out[s["id"]] = (s["end"] - s["start"]) - covered(
                kids, s["start"], s["end"]
            )
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, self_s=selfs[s["id"]])) + "\n")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ------------------------------------------------------------------- /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak RSS of this process and all its descendants (driver, JVM,
    Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the whole machine, in jiffies, from
    /proc/stat. On a virtual machine, stolen time is time a virtual CPU was
    ready to run while the host ran something else."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def granted_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time asked for between two ``cpu_jiffies`` readings
    that the host granted: 1.0 on a dedicated machine."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


# -------------------------------------------------------------- filesystem


def file_sizes(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                continue
    return out


def tree_bytes(root: str) -> int:
    return sum(file_sizes(root).values())


def written_since(before: dict[str, int], after: dict[str, int]) -> dict[str, dict]:
    """Per top-level store: bytes and count of files that appeared or
    changed between two ``file_sizes`` listings."""
    out: dict[str, dict] = {}
    for rel, size in after.items():
        if before.get(rel) == size:
            continue
        store = rel.split(os.sep, 1)[0]
        rec = out.setdefault(store, dict(bytes=0, files=0))
        rec["bytes"] += size
        rec["files"] += 1
    return out


# --------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict:
    """Jobs and tasks from the uncompressed event log files under
    ``log_dir`` (single-file or rolling layout).

    Returns {"jobs": {job_id: {"props", "stages"}}, "tasks": [...]} where
    each task carries its stage id, launch/finish time (epoch s), executor
    run time and I/O counters."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    paths = sorted(
        os.path.join(d, fn) for d, _, fns in os.walk(log_dir) for fn in fns
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = dict(
                        props=ev.get("Properties") or {},
                        stages=list(ev.get("Stage IDs") or []),
                    )
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    shuffle_w = m.get("Shuffle Write Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    tasks.append(
                        dict(
                            stage=ev["Stage ID"],
                            launch=info.get("Launch Time", 0) / 1000.0,
                            finish=info.get("Finish Time", 0) / 1000.0,
                            run_s=m.get("Executor Run Time", 0) / 1000.0,
                            input_bytes=inp.get("Bytes Read", 0),
                            input_records=inp.get("Records Read", 0),
                            shuffle_write_bytes=shuffle_w.get(
                                "Shuffle Bytes Written", 0
                            ),
                        )
                    )
    return dict(jobs=jobs, tasks=tasks)


def attribute(log: dict, key_of_job) -> dict[str, dict]:
    """Sum task metrics per attribution key. ``key_of_job(props)`` maps a
    job's local properties to a key (or None to skip the job)."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict] = {}
    for job in log["jobs"].values():
        key = key_of_job(job["props"])
        if key is None:
            continue
        rec = out.setdefault(
            key,
            dict(jobs=0, tasks=0, task_s=0.0, input_bytes=0, input_records=0,
                 shuffle_write_bytes=0, intervals=[]),
        )
        rec["jobs"] += 1
        for sid in job["stages"]:
            stage_key.setdefault(sid, key)
    for t in log["tasks"]:
        key = stage_key.get(t["stage"])
        if key is None:
            continue
        rec = out[key]
        rec["tasks"] += 1
        rec["task_s"] += t["run_s"]
        rec["input_bytes"] += t["input_bytes"]
        rec["input_records"] += t["input_records"]
        rec["shuffle_write_bytes"] += t["shuffle_write_bytes"]
        rec["intervals"].append((t["launch"], t["finish"]))
    return out
