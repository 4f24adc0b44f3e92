"""Spans, Spark attribution and process-tree memory for one benchmark run.

A span is one call into a webdedup layer made from the benchmark's own
files: a name, a start and an end (epoch seconds).  Spans are kept in memory
and written once, at the end of the run.  Each span opened with
``Tracer.span`` sets a Spark job group, so the jobs it submits carry the
span's id; spans reconstructed after the fact (pipeline stages, streaming
micro-batches) claim the jobs submitted inside their time window.  The
benchmark is one closed-loop client, so leaf spans never overlap.

Task-level numbers (executor run time, shuffle bytes, spill, Python worker
time, file commit time) come from the Spark event log, enabled through
``get_spark(extra_conf=event_log_conf(...))``, and are summed per span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf that writes one uncompressed JSON-lines event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


@dataclass
class Span:
    sid: str
    name: str
    start: float
    end: float


class Tracer:
    """In-memory span list.  Disabled tracers record nothing and set no job
    groups, so the untraced run pays nothing for them."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # set once the measured session exists

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = f"pb{len(self.spans)}"
        self.sc.setJobGroup(sid, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(sid, name, t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float) -> None:
        """A span whose bounds were measured elsewhere (a pipeline stage, a
        streaming micro-batch)."""
        if self.enabled:
            self.spans.append(Span(f"pb{len(self.spans)}", name, start, end))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_COMMIT = ("task commit time", "job commit time")
_TIMES = (_PY_TIME,) + _COMMIT


@dataclass
class SparkTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0
    commit_s: float = 0.0
    job_wall_s: float = 0.0
    write_job_wall_s: float = 0.0   # jobs of SQL executions that write files
    python_job_wall_s: float = 0.0  # other jobs that run Python UDFs

    def add(self, o: "SparkTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class EventLog:
    """The parts of a Spark event log the benchmark attributes to spans."""
    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, dict] = field(default_factory=dict)
    executions: dict[int, dict] = field(default_factory=dict)


def _walk_plan(node: dict, metric_types: dict[int, tuple[str, str]],
               names: list[str]) -> None:
    names.append(node.get("nodeName", ""))
    for m in node.get("metrics", []):
        metric_types[m["accumulatorId"]] = (m["name"], m["metricType"])
    for c in node.get("children", []):
        _walk_plan(c, metric_types, names)


def _classify(ex: dict, plan: dict,
              metric_types: dict[int, tuple[str, str]]) -> None:
    names: list[str] = []
    _walk_plan(plan, metric_types, names)
    ex["write"] |= any("Write" in n or "InsertInto" in n for n in names)
    ex["python"] |= any("Python" in n or "Pandas" in n for n in names)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def read_event_log(log_dir: str) -> EventLog:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    out = EventLog()
    metric_types: dict[int, tuple[str, str]] = {}
    task_acc: list[tuple[int, int, str, float]] = []  # (stage, id, name, v)
    driver_acc: list[tuple[int, int, float]] = []  # (execution, id, value)
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                out.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e["Submission Time"] / 1e3,
                    "end": None,
                    "execution": int(props.get("spark.sql.execution.id", -1)),
                }
            elif kind == "SparkListenerJobEnd":
                out.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                props = e.get("Properties") or {}
                out.stages[info["Stage ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": (info.get("Submission Time") or 0) / 1e3,
                    "completed": False, "tasks": SparkTotals(),
                }
            elif kind == "SparkListenerStageCompleted":
                st = out.stages.get(e["Stage Info"]["Stage ID"])
                if st is not None:
                    st["completed"] = True
            elif kind == "SparkListenerTaskEnd":
                st = out.stages.get(e["Stage ID"])
                if st is None:
                    continue
                t = st["tasks"]
                t.tasks += 1
                info = e["Task Info"]
                if info.get("Failed") or info.get("Killed"):
                    t.failed_tasks += 1
                tm = e.get("Task Metrics") or {}
                t.executor_run_s += tm.get("Executor Run Time", 0) / 1e3
                t.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}
                                          ).get("Shuffle Bytes Written", 0)
                t.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                for a in info.get("Accumulables", []):
                    if a.get("Name") in _TIMES and "Update" in a:
                        task_acc.append((e["Stage ID"], a["ID"], a["Name"],
                                         float(a["Update"])))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                ex = out.executions[e["executionId"]] = {
                    "start": e["time"] / 1e3, "write": False, "python": False}
                _classify(ex, e["sparkPlanInfo"], metric_types)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = out.executions.get(e["executionId"])
                if ex is not None:
                    _classify(ex, e["sparkPlanInfo"], metric_types)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    driver_acc.append((e["executionId"], acc_id, float(value)))
    for stage_id, acc_id, name, value in task_acc:
        mtype = metric_types.get(acc_id, (name, "timing"))[1]
        t = out.stages[stage_id]["tasks"]
        if name == _PY_TIME:
            t.python_s += _seconds(value, mtype)
        elif name in _COMMIT:
            t.commit_s += _seconds(value, mtype)
    for ex_id, acc_id, value in driver_acc:
        name, mtype = metric_types.get(acc_id, ("", ""))
        if name in _COMMIT and ex_id in out.executions:
            out.executions[ex_id].setdefault("commit_s", 0.0)
            out.executions[ex_id]["commit_s"] += _seconds(value, mtype)
    return out


OTHER = "other"      # inside the measured window, outside every span
OUTSIDE = "outside"  # set-up, checks and everything after the window


def attribute(log: EventLog, spans: list[Span], t_start: float,
              t_end: float) -> dict[str, SparkTotals]:
    """Spark totals per span name.

    A job or stage belongs to the span whose job group it carries, else to
    the span whose time window contains its submission; work submitted in
    the measured window ``[t_start, t_end]`` but in no span is ``OTHER``."""
    by_sid = {s.sid: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)

    def owner(group: str | None, t: float) -> str:
        if group in by_sid:
            return by_sid[group].name
        for s in ordered:
            if s.start <= t <= s.end:
                return s.name
        return OTHER if t_start <= t <= t_end else OUTSIDE

    out: dict[str, SparkTotals] = defaultdict(SparkTotals)
    for job in log.jobs.values():
        tot = out[owner(job["group"], job["submit"])]
        tot.jobs += 1
        if job["end"] is not None:
            wall = job["end"] - job["submit"]
            tot.job_wall_s += wall
            ex = log.executions.get(job["execution"])
            if ex is not None and ex["write"]:
                tot.write_job_wall_s += wall
            elif ex is not None and ex["python"]:
                tot.python_job_wall_s += wall
    for st in log.stages.values():
        if not st["completed"]:
            continue
        tot = out[owner(st["group"], st["submit"])]
        tot.stages += 1
        tot.add(st["tasks"])
    for ex in log.executions.values():
        if ex.get("commit_s"):
            out[owner(None, ex["start"])].commit_s += ex["commit_s"]
    return dict(out)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

def tree_pids(root: int) -> set[int]:
    """``root`` and all its descendants (Python driver, JVM, Python
    workers), read from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, proportional resident bytes) over the process
    tree.  Proportional set sizes count a page shared by several processes
    once in their sum: Python workers share the pages of the daemon they
    were forked from, and a child the JVM forks shares all of the JVM's
    pages until it execs."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) for line in f
                           if line.startswith("Pss:")) * 1024
            with open(f"/proc/{pid}/comm") as f:
                out[pid] = (f.read().strip(), pss)
        except (OSError, StopIteration, ValueError):
            continue
    return out


class TreeRssSampler:
    """Samples the process tree's resident memory (sum of proportional set
    sizes) every ``period`` seconds on a background thread; ``peak_mb`` is
    the largest sample."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.peak_by_command: dict[str, tuple[int, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            procs = _tree_rss(pid)
            total = sum(rss for _, rss in procs.values())
            if total > self.peak:
                self.peak = total
                by: dict[str, tuple[int, int]] = {}
                for comm, rss in procs.values():
                    n, b = by.get(comm, (0, 0))
                    by[comm] = (n + 1, b + rss)
                self.peak_by_command = by
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)
