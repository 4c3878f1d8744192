"""Measurement helpers: in-memory spans, the Spark event-log reader,
the process-tree RSS sampler and the /proc/stat steal bracket.

Everything here observes the engine from outside: spans wrap calls into
public functions, and the event log is Spark's own record of the jobs
those calls submitted.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Spans:
    """Spans kept in memory (name, start, end, parent) and written out
    once at the end of a run. Times are wall-clock epoch seconds so they
    line up with the event log's submission times."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.rows)
        row = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.rows.append(row)
        self._stack.append(sid)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.time()

    def named(self, prefix: str) -> list[dict]:
        return [r for r in self.rows if r["name"].startswith(prefix)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.rows, f)


def read_event_log(log_dir: str) -> dict:
    """Jobs (with submission time in epoch seconds and their stage ids)
    and per-task metrics from a Spark event log directory."""
    jobs: list[dict] = []
    tasks: list[dict] = []
    stages: set[int] = set()
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "submitted": ev["Submission Time"] / 1000.0,
                            "stages": ev.get("Stage IDs", []),
                        }
                    )
                elif kind == "SparkListenerStageCompleted":
                    stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return {"jobs": jobs, "tasks": tasks, "stages": stages}


def spark_layer(ev: dict, windows: list[tuple[float, float]]) -> dict:
    """Spark-execution metrics over the jobs submitted inside any of
    ``windows`` (epoch-second intervals). Jobs are attributed by
    submission time, not job group: the engine's delta writes run on
    pool threads that do not inherit the caller's job group."""
    job_ids = {
        j["id"]
        for j in ev["jobs"]
        if any(lo <= j["submitted"] <= hi for lo, hi in windows)
    }
    stage_ids = {s for j in ev["jobs"] if j["id"] in job_ids for s in j["stages"]}
    tasks = [t for t in ev["tasks"] if t["stage"] in stage_ids]
    run = [t["run_ms"] for t in tasks]
    med = statistics.median(run) if run else 0.0
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": len(stage_ids & ev["stages"]),
        "spark.tasks": len(tasks),
        "spark.task_run_s": sum(run) / 1000.0,
        "spark.task_max_over_median": (max(run) / med) if med > 0 else 0.0,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
    }


def jobs_in(ev: dict, lo: float, hi: float) -> tuple[int, int]:
    """(jobs, tasks) submitted inside one window."""
    jobs = [j for j in ev["jobs"] if lo <= j["submitted"] <= hi]
    stage_ids = {s for j in jobs for s in j["stages"]}
    return len(jobs), sum(1 for t in ev["tasks"] if t["stage"] in stage_ids)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this process tree: every
    live process's own time plus the time of children it has reaped."""
    tck = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between the listing and the read
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tck


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in _tree_pids(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), (fields[7] if len(fields) > 7 else 0)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0
