"""What the benchmark records around the program: spans, the peak memory of
the Spark process tree, and per-job numbers folded from a Spark event log.

Spans live in memory and are written once at the end of a run. A job is
attributed to a span by the job description the benchmark sets before each
action (``label``); a job without one (a client thread that lost its local
properties) is attributed by time window to the innermost span that was open
when it was submitted."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

LABEL_PREFIX = "pb|"


def label(kind: str, name: str, i: int) -> str:
    return f"{LABEL_PREFIX}{kind}|{name}|{i}"


class Spans:
    """In-memory span recorder: name, start, end, parent, run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, sc=None):
        """Record one span; with ``sc`` set, jobs started inside it carry
        ``name`` as their job description."""
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if sc is not None:
            sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setJobDescription(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def child_pids(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between the Python daemon and the
    workers it forks count once in total, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    # by executable, not command line: a child the JVM is still spawning
    # runs the java binary with the JVM's (python-path-bearing) arguments
    try:
        return "python" in os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return False


def tree_pss_mb(root: int) -> float:
    """Memory of the JVM ``root`` plus the Python processes below it (summed
    PSS), in MiB. Other children are skipped: a process the JVM spawns
    (Hadoop shell commands, the spawn helper) maps the whole JVM image until
    it execs."""
    total, todo = _pss_kb(root), child_pids(root)
    while todo:
        pid = todo.pop()
        if _is_python(pid):
            total += _pss_kb(pid)
        todo.extend(child_pids(pid))
    return total / 1024


class PeakMemory:
    """Samples the memory of a process tree (the Spark JVM and the Python
    workers it forks) every ``interval`` seconds while ``active``."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root = root_pid
        self.interval = interval
        self.peak = 0.0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak = max(self.peak, tree_pss_mb(self.root))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def read_event_log(eventlog_dir: str) -> list[dict]:
    """All events of the (single, completed) application log in the dir."""
    files = [
        f
        for f in glob.glob(os.path.join(eventlog_dir, "*"))
        if not f.endswith(".inprogress") and os.path.isfile(f)
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one completed event log in {eventlog_dir}, got {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def fold_jobs(events: list[dict], spans: list[dict]) -> dict[str, dict]:
    """Per-label totals over the jobs of the event log.

    Returns ``{label: {"stages", "tasks", "cpu_s", "run_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "task_ms": {stage: [...]},
    "sql_plans": [...]}}``."""
    windows = sorted(
        (s for s in spans if s["end"] is not None and s["name"].startswith(LABEL_PREFIX)),
        key=lambda s: s["end"] - s["start"],
    )

    def by_window(t_ms: float) -> str | None:
        t = t_ms / 1000.0
        for s in windows:  # shortest (innermost) first
            if s["start"] <= t <= s["end"]:
                return s["name"]
        return None

    stage_label: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(lbl: str) -> dict:
        return out.setdefault(
            lbl,
            {
                "stages": 0,
                "tasks": 0,
                "cpu_s": 0.0,
                "run_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "task_ms": {},
                "sql_plans": [],
            },
        )

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            lbl = desc if desc.startswith(LABEL_PREFIX) else by_window(ev["Submission Time"])
            if lbl is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_label.setdefault(sid, lbl)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            lbl = stage_label.get(info["Stage ID"])
            if lbl is not None and info.get("Completion Time") is not None:
                acc(lbl)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            lbl = stage_label.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if lbl is None or not m:
                continue
            a = acc(lbl)
            info = ev["Task Info"]
            a["tasks"] += 1
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            a["task_ms"].setdefault(ev["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"]
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            desc = ev.get("description") or ""
            lbl = desc if desc.startswith(LABEL_PREFIX) else by_window(ev["time"])
            root = ev.get("rootExecutionId", ev["executionId"])
            if lbl is not None and root in (None, -1, ev["executionId"]):
                acc(lbl)["sql_plans"].append(ev.get("physicalPlanDescription", ""))
    return out


def task_skew(stages: dict[int, list[int]]) -> float:
    """max ÷ median task time in the stage with the most tasks."""
    if not stages:
        return 0.0
    widest = max(stages.values(), key=len)
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 0.0
