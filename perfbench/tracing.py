"""Tracing for the Zeek-scan benchmark: spans, Spark job counts, the
Spark event log and the RSS of the process tree.

Spans are recorded by the benchmark around its calls into the library's
public functions (it never patches the library).  They stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time


class Tracer:
    """In-memory spans plus per-operation counters.

    A span is ``{"name", "op", "start", "end", "parent"}`` with times in
    seconds from the tracer's creation; every span of one operation
    shares its ``op`` id.  ``enabled=False`` makes every method a no-op,
    so the untraced run executes the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, op: str, start: float, end: float,
             parent: str | None = None, **counts) -> None:
        if self.enabled:
            self.spans.append({
                "name": name, "op": op, "parent": parent,
                "start": start - self._t0, "end": end - self._t0, **counts,
            })

    def job_group(self, sc, group: str) -> None:
        """Tag the Spark jobs the next calls launch, so they can be
        counted through the status tracker and found in the event log."""
        if self.enabled:
            sc.setJobGroup(group, group)

    def end_job_group(self, sc) -> None:
        """Untag the jobs that follow (untraced operations among them)."""
        if self.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def job_counts(self, sc, group: str) -> dict:
        """Jobs, stages and tasks launched under ``group`` (all zero when
        tracing is off)."""
        if not self.enabled:
            return {"jobs": 0, "stages": 0, "tasks": 0}
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def write(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "metrics": metrics}, fh, indent=1)


# -- the Spark event log ---------------------------------------------------

def event_log_ops(path: str) -> dict[str, dict]:
    """Per job group: executor-side totals from a finished event log.

    Returns ``{group: {"executor_run_s", "executor_cpu_s", "gc_s",
    "task_deserialize_s", "shuffle_write_bytes", "stage_spans"}}``;
    ``stage_spans`` are the (submission, completion) wall times in
    seconds of every stage the group ran."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def rec(group: str) -> dict:
        return out.setdefault(group, {
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "task_deserialize_s": 0.0, "shuffle_write_bytes": 0,
            "stage_spans": [],
        })

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                r = rec(group)
                r["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                r["task_deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                r["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info", {})
                group = stage_group.get(info.get("Stage ID"))
                sub, done = info.get("Submission Time"), info.get("Completion Time")
                if group is not None and sub and done:
                    rec(group)["stage_spans"].append((sub / 1e3, done / 1e3))
    return out


def covered_s(spans: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


# -- resident memory of the process tree -----------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> list[tuple[int, str]]:
    """(pid, command name) of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; it is enclosed in the last parentheses
        name = stat[stat.index("(") + 1: stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        pid = int(entry)
        names[pid] = name
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append((pid, names.get(pid, "")))
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    return [pid for pid, _ in _tree(root) if pid != root]


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Samples the RSS of this process's tree (JVM, Python driver and
    Python workers) every ``interval`` seconds between ``start()`` and
    ``stop()``.  ``cut()`` closes a window; each window keeps its peaks,
    so a run can report the typical peak of one operation cycle."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.windows: list[dict] = []
        self._peak = {"total": 0, "jvm": 0, "python": 0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        jvm = py = 0
        for pid, name in _tree(os.getpid()):
            rss = _rss_bytes(pid)
            if name == "java":
                jvm += rss
            elif name.startswith("python"):
                py += rss
        with self._lock:
            for key, v in (("jvm", jvm), ("python", py), ("total", jvm + py)):
                self._peak[key] = max(self._peak[key], v)

    def cut(self) -> None:
        self.sample()
        with self._lock:
            self.windows.append(self._peak)
            self._peak = {"total": 0, "jvm": 0, "python": 0}

    def median_peak(self, key: str) -> float:
        """Median over the windows of each window's peak, in bytes."""
        vals = sorted(w[key] for w in self.windows)
        mid = len(vals) // 2
        return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
