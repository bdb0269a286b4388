"""Spans recorded by the benchmark, and Spark event-log attribution.

The benchmark records its own spans around every call into the program:
``run -> pass -> query -> {build, exec, write, readback}``. In the traced run
Spark writes its event log to a local directory; :func:`read_event_log`
turns it into jobs, stages and tasks, and :func:`engine_metrics` assigns each
job to the span its submission time falls in. Time intervals are used rather
than job groups because streaming micro-batches run under the stream's own
job group, not the caller's.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# a stage runs Python when one of its operators is an Arrow/pandas UDF node
PYTHON_STAGE = re.compile(r"InPandas|InArrow|EvalPython|PythonRDD|PythonUDF")


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder; times are wall-clock seconds (``time.time``),
    the clock Spark's event log uses too."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def children(self, parent: Span, name: str | None = None) -> list[Span]:
        idx = self.spans.index(parent)
        return [s for s in self.spans if s.parent == idx and (name is None or s.name == name)]

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


@dataclass
class Stage:
    python: bool  # runs an Arrow/pandas UDF node
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stage_ids: list[int]


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, Stage]]:
    """Parse every Spark event-log file under ``log_dir`` (plain or rolling).

    Stages that were skipped (their shuffle output reused) never complete
    and are absent; a stage with several attempts is one entry with the
    tasks of all attempts."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    ]
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    tasks: list[dict] = []
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], e["Submission Time"] / 1000.0, 0.0, list(e["Stage IDs"])
                    )
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    names = [info["Stage Name"]]
                    for rdd in info.get("RDD Info", []):
                        names.append(rdd.get("Name", ""))
                        names.append(rdd.get("Scope") or "")
                    stages.setdefault(
                        info["Stage ID"], Stage(bool(PYTHON_STAGE.search(" ".join(names))))
                    )
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
    for e in tasks:
        st = stages.get(e["Stage ID"])
        if st is None:
            continue
        st.tasks += 1
        if e["Task End Reason"]["Reason"] != "Success":
            st.failed_tasks += 1
        m = e.get("Task Metrics") or {}
        st.run_s += m.get("Executor Run Time", 0) / 1000.0
        st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        st.gc_s += m.get("JVM GC Time", 0) / 1000.0
        st.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.start), stages


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
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


def jobs_in(jobs: list[Job], span: Span) -> list[Job]:
    """Jobs submitted inside ``span``'s interval, at the event log's
    millisecond resolution."""
    start = int(span.start * 1000) / 1000.0
    return [j for j in jobs if start <= j.start <= span.end]


def engine_metrics(jobs: list[Job], stages: dict[int, Stage], span: Span) -> dict[str, float]:
    """Engine work done on behalf of ``span``: its jobs, the stages those jobs
    ran (each stage counted once, by its first job) and their task metrics."""
    mine = jobs_in(jobs, span)
    first_job: dict[int, int] = {}
    for j in jobs:
        for sid in j.stage_ids:
            first_job.setdefault(sid, j.job_id)
    ids = {j.job_id for j in mine}
    ran = [st for sid, st in stages.items() if first_job.get(sid) in ids]
    busy = union_s([(j.start, j.end if j.end else span.end) for j in mine])
    mb = 1e6
    return {
        "jobs": len(mine),
        "stages": len(ran),
        "tasks": sum(s.tasks for s in ran),
        "failed_tasks": sum(s.failed_tasks for s in ran),
        "busy_s": busy,
        "driver_gap_s": max(0.0, span.wall - busy),
        "python_stages": sum(s.python for s in ran),
        "executor_run_s": sum(s.run_s for s in ran),
        "python_run_s": sum(s.run_s for s in ran if s.python),
        "executor_cpu_s": sum(s.cpu_s for s in ran),
        "gc_s": sum(s.gc_s for s in ran),
        "input_mb": sum(s.input_b for s in ran) / mb,
        "shuffle_read_mb": sum(s.shuffle_read_b for s in ran) / mb,
        "shuffle_write_mb": sum(s.shuffle_write_b for s in ran) / mb,
        "spill_mb": sum(s.spill_b for s in ran) / mb,
    }
