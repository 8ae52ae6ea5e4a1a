"""Spans from the benchmark's own code, joined with Spark's event log.

A span is one call into a layer: name, start, end, parent. While a
span is open its tag is added to the driver thread's Spark job tags,
so every job (and stage) the call starts carries it in the event log.
Per span the profile then has:

- ``wall_s``: end - start;
- ``self_s``: wall minus the time its child spans cover;
- ``jobs``: Spark jobs carrying the span's tag;
- ``driver_only_s``: wall minus the union of those jobs' run intervals
  (Python plan building, Catalyst, scheduling gaps);
- ``exec_cpu_s``, ``gc_s``, ``shuffle_mb``, ``python_udf_s``: sums over
  the tasks of the span's stages ("time to run Python workers" is the
  per-task SQL metric of MapInPandas and the other Python nodes).

A job submitted by a thread that did not inherit the tags (none is
expected; tags are inheritable thread-locals) falls back to the
innermost span open at its submission time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench-span-"
PY_RUN_METRIC = "time to run Python workers"  # ms, per task


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}{self.id}"


class Tracer:
    """Spans of the driver thread, kept in memory."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        self.sc.addJobTag(s.tag)
        try:
            yield s
        finally:
            self.sc.removeJobTag(s.tag)
            s.end = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` called inside a span named ``name``."""
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapped


# --- event log -----------------------------------------------------------


@dataclass
class Job:
    id: int
    start: float
    end: float
    tags: set[str]
    stages: list[int]


@dataclass
class StageCost:
    tags: set[str] = field(default_factory=set)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    python_s: float = 0.0


def _tags(props: dict | None) -> set[str]:
    raw = (props or {}).get("spark.job.tags") or ""
    return {t for t in raw.split(",") if t.startswith(TAG_PREFIX)}


def event_files(log_dir: str) -> list[str]:
    """Every rolled ``events_N`` file of the one application logged
    under ``log_dir``, in N order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    num = re.compile(r"events_(\d+)_")
    return sorted(files, key=lambda f: int(num.search(os.path.basename(f)).group(1)))


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, StageCost]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageCost] = {}
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = Job(e["Job ID"], e["Submission Time"] / 1e3, 0.0,
                                            _tags(e.get("Properties")), e["Stage IDs"])
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    stages.setdefault(sid, StageCost()).tags |= _tags(e.get("Properties"))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], StageCost())
                    m = e.get("Task Metrics") or {}
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PY_RUN_METRIC:
                            st.python_s += float(acc.get("Update") or 0) / 1e3
    return jobs, stages


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def profile(spans: list[Span], log_dir: str) -> dict[int, dict]:
    """Per span id: wall_s, self_s, jobs, driver_only_s, exec_cpu_s,
    gc_s, shuffle_mb, python_udf_s."""
    jobs, stages = read_event_log(log_dir)
    by_tag = {s.tag: s for s in spans}
    # the spans each job counts for: its tags, which nest and so name
    # every enclosing span; for an untagged job, the innermost span open
    # at its submission and that span's ancestors
    job_spans: dict[int, set[int]] = {}
    for j in jobs.values():
        ids = {by_tag[t].id for t in j.tags if t in by_tag}
        if not ids:
            s = _innermost(spans, j.start)
            while s is not None:
                ids.add(s.id)
                s = spans[s.parent] if s.parent is not None else None
        job_spans[j.id] = ids
    stage_spans: dict[int, set[int]] = {}
    for j in jobs.values():
        for sid in j.stages:
            st = stages.get(sid)
            if st is None:
                continue
            own = {by_tag[t].id for t in st.tags if t in by_tag}
            stage_spans.setdefault(sid, set()).update(own or job_spans[j.id])
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, dict] = {}
    for s in spans:
        my_jobs = [j for j in jobs.values() if s.id in job_spans[j.id]]
        busy = _union([(max(j.start, s.start), min(j.end or s.end, s.end))
                       for j in my_jobs if j.start < s.end and (j.end or s.end) > s.start])
        kids = _union([(c.start, c.end) for c in children.get(s.id, [])])
        my_stages = [stages[i] for i, ids in stage_spans.items() if s.id in ids]
        wall = s.end - s.start
        out[s.id] = {
            "wall_s": wall,
            "self_s": wall - kids,
            "jobs": float(len(my_jobs)),
            "driver_only_s": wall - busy,
            "exec_cpu_s": sum(st.cpu_s for st in my_stages),
            "gc_s": sum(st.gc_s for st in my_stages),
            "shuffle_mb": sum(st.shuffle_mb for st in my_stages),
            "python_udf_s": sum(st.python_s for st in my_stages),
        }
    return out


def write_sidecar(path: str, spans: list[Span], prof: dict[int, dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump([{"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
                    "end": s.end, **prof.get(s.id, {})}
                   for s in spans], fh, indent=1)
