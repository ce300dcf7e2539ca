"""Spans around calls into the program, and Spark's own accounting for them.

A :class:`Tracer` times each call the workloads make into a layer's public
functions.  When tracing is on it also tags the call's Spark jobs with
``setJobGroup`` (from the benchmark's own thread) and, after the timed
region, reads Spark's REST API at ``uiWebUrl`` (localhost only) to attribute
jobs, tasks, executor run time and shuffle bytes to each span.

``driver_gap_s`` is a span's wall time minus the time covered by its Spark
jobs: the Py4J, Catalyst and Python cost on the driver.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from typing import Dict, List, Optional, Tuple

_TIME_FMT = "%Y-%m-%dT%H:%M:%S.%fGMT"


@dataclass
class Span:
    name: str
    group: str
    wall_s: float = 0.0


@dataclass
class LayerStats:
    wall_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    job_covered_s: float = 0.0

    @property
    def driver_gap_s(self) -> float:
        return max(0.0, self.wall_s - self.job_covered_s)


@dataclass
class Tracer:
    spark: object
    enabled: bool
    spans: List[Span] = field(default_factory=list)
    tag_s: float = 0.0
    readout_s: float = 0.0
    _stats: Dict[str, LayerStats] = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        """Time one call; with tracing on, tag its Spark jobs."""
        sp = Span(name, f"pb:{name}#{len(self.spans)}")
        sc = self.spark.sparkContext
        if self.enabled:
            t = time.perf_counter()
            sc.setJobGroup(sp.group, name)
            self.tag_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            self.spans.append(sp)
            if self.enabled:
                t = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self.tag_s += time.perf_counter() - t

    def walls(self, name: str) -> List[float]:
        return [s.wall_s for s in self.spans if s.name == name]

    # ------------------------------------------------------------ readout

    def _get(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def _settled_jobs(self) -> list:
        """Jobs list once the listener bus has caught up: no job of ours is
        still running and two reads agree."""
        ours = {s.group for s in self.spans}
        prev: Optional[Tuple] = None
        deadline = time.monotonic() + 20
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in ours]
            sig = tuple(sorted((j["jobId"], j["status"]) for j in jobs))
            running = any(j["status"] == "RUNNING" for j in jobs)
            if (not running and sig == prev) or time.monotonic() > deadline:
                return jobs
            prev = sig
            time.sleep(0.2)

    def readout(self) -> None:
        """Attribute Spark jobs to spans; call after the timed region."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        jobs = self._settled_jobs()
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get("stages")
            if s.get("status") == "COMPLETE"
        }
        latest: Dict[int, dict] = {}
        for (sid, _att), s in stages.items():
            latest[sid] = s  # completed attempts only; last one wins
        by_group: Dict[str, list] = {}
        for j in jobs:
            by_group.setdefault(j["jobGroup"], []).append(j)
        seen_stages: set = set()
        for sp in self.spans:
            st = self._stats.setdefault(sp.name, LayerStats())
            st.wall_s += sp.wall_s
            mine = by_group.get(sp.group, [])
            st.jobs += len(mine)
            intervals = []
            for j in mine:
                st.tasks += int(j.get("numCompletedTasks", 0))
                try:
                    a = datetime.strptime(j["submissionTime"], _TIME_FMT)
                    b = datetime.strptime(j["completionTime"], _TIME_FMT)
                    intervals.append((a.timestamp(), b.timestamp()))
                except (KeyError, ValueError):
                    pass
                for sid in j.get("stageIds", []):
                    s = latest.get(sid)
                    if s is None or sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    st.executor_run_s += s.get("executorRunTime", 0) / 1000.0
                    st.shuffle_bytes += int(s.get("shuffleWriteBytes", 0))
            st.job_covered_s += _union_length(intervals)
        self.readout_s = time.perf_counter() - t0

    def stats(self, *names: str) -> LayerStats:
        """Sum of the readout over every span with one of ``names``."""
        out = LayerStats()
        for n in names:
            st = self._stats.get(n)
            if st is None:
                continue
            for f in ("wall_s", "jobs", "tasks", "executor_run_s",
                      "shuffle_bytes", "job_covered_s"):
                setattr(out, f, getattr(out, f) + getattr(st, f))
        return out

    def gc_s(self) -> float:
        if not self.enabled:
            return 0.0
        return sum(e.get("totalGCTime", 0) for e in self._get("executors")) / 1000.0


def _union_length(intervals: List[Tuple[float, float]]) -> float:
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
