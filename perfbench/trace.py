"""Traced-run instruments: in-memory spans around calls into the engine's
modules, plus Spark's own record of each job group read back from the
event log after the session stops.

Spans are recorded only from the benchmark's side of each call (the
engine carries no instrumentation); a span is
``(run, qid, layer, start, end, parent)`` with ``time.time()`` stamps,
the clock Spark's event log uses too, so a query's span and its jobs
can be laid on one axis.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Span recorder.  Disabled, ``span()`` is a no-op context."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, layer: str, qid: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(None)  # reserve the slot so children see their parent
        self._stack.append(idx)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx] = (self.run_id, qid, layer, start, time.time(), parent)

    def durations(self, layer: str) -> list[float]:
        return [s[4] - s[3] for s in self.spans if s and s[2] == layer]

    def dump(self) -> list[dict]:
        keys = ("run", "qid", "layer", "start", "end", "parent")
        return [dict(zip(keys, s)) for s in self.spans if s]


class JobGroups:
    """Per-operation Spark job groups (``spark.jobGroup.id``), so the
    event log can attribute every job, stage and task to one operation.
    ``statusTracker`` gives the live job and stage counts."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.status: dict[str, dict] = {}

    @contextlib.contextmanager
    def group(self, gid: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
            self.status[gid] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# event-log accumulator names -> short keys.  The SQL metric names are
# the display names Spark gives the Python-UDF and exchange nodes.
_ACCUMS = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.jvmGCTime": "jvm_gc_ms",
    "data sent to Python workers": "python_data_sent",
    "time to start Python workers": "python_boot_ms",
    "time to run Python workers": "python_run_ms",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """-> totals per job group.

    Group ``"*"`` totals the stages of every job in the run.  Totals per
    group: jobs, stages, tasks, job_intervals [(start_s, end_s)], job_ms
    (wall covered by the group's jobs), wait_ms (part of that no task of
    the group was running), and every ``_ACCUMS`` key summed over the
    group's stages."""
    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    files = sorted(
        os.path.join(root, f)
        for root, _, names in os.walk(log_dir)
        for f in names
        if not f.startswith((".", "appstatus"))  # skip checksums, status marker
    )
    job_group: dict[int, str] = {}
    job_times: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_accums: dict[int, dict[str, float]] = {}
    stage_tasks: dict[int, int] = {}
    task_iv: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id") or ""
                    job_times[jid] = [ev["Submission Time"] / 1000.0, None]
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_times:
                        job_times[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage_tasks[sid] = stage_tasks.get(sid, 0) + info.get("Number of Tasks", 0)
                    acc = stage_accums.setdefault(sid, defaultdict(float))
                    for a in info.get("Accumulables", []):
                        name = a.get("Name")
                        if name in _ACCUMS:
                            acc[_ACCUMS[name]] += _num(a.get("Value"))
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    task_iv[ev["Stage ID"]].append(
                        (ti["Launch Time"] / 1000.0, ti["Finish Time"] / 1000.0)
                    )
    groups: dict[str, dict] = defaultdict(
        lambda: defaultdict(float, job_intervals=[], task_intervals=[])
    )
    for jid, gid in job_group.items():
        start, end = job_times.get(jid, [None, None])
        if not gid or end is None:
            continue
        g = groups[gid]
        g["jobs"] += 1
        g["job_intervals"].append((start, end))
    for sid, jid in stage_job.items():
        if sid not in stage_accums:
            continue  # skipped stage (its shuffle output was reused)
        gid = job_group.get(jid)
        # "*" totals every stage of the run, grouped or not
        for g in (groups[gid], groups["*"]) if gid else (groups["*"],):
            g["stages"] += 1
            g["tasks"] += stage_tasks.get(sid, 0)
            for k, v in stage_accums[sid].items():
                g[k] += v
        if gid:
            groups[gid]["task_intervals"].extend(task_iv.get(sid, ()))
    for g in groups.values():
        g["job_ms"] = 1000.0 * union_length(g["job_intervals"])
        g["wait_ms"] = 1000.0 * max(
            0.0,
            union_length(g["job_intervals"])
            - union_length(clip(g["task_intervals"], g["job_intervals"])),
        )
    return dict(groups)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, bounds):
    """Parts of ``intervals`` that fall inside the union of ``bounds``."""
    out = []
    for s, e in intervals:
        for bs, be in bounds:
            lo, hi = max(s, bs), min(e, be)
            if hi > lo:
                out.append((lo, hi))
    return out


def read_build_stages(path: str) -> dict[str, float]:
    """Parse the ``IR_BUILD_DEBUG`` stage file ("[build] <label>: <sec>s")."""
    stages: dict[str, float] = {}
    if not os.path.exists(path):
        return stages
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            body = line.strip().removeprefix("[build] ")
            label, _, val = body.rpartition(": ")
            if label and val.endswith("s"):
                stages[label] = stages.get(label, 0.0) + float(val[:-1])
    return stages


def calibrate() -> float:
    """No-Spark single-core loop, M iterations/s (``bench_extra.py``'s
    ``calibrate``): host speed beside every run's numbers."""
    n = 2_000_000
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return n / (time.perf_counter() - t0) / 1e6
