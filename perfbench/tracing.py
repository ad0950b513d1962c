"""Spans around layer calls, and Spark job attribution through job groups.

Each span sets ``SparkContext.setJobGroup(<span id>)`` for its duration, so
every Spark job a layer call causes carries the span's id. After the timed
phase, the Spark UI REST API (``/jobs``, ``/stages``, ``/sql``) is read once
and each job, stage and SQL execution is joined back to its span. Nothing
inside the program is instrumented. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import calendar
import contextlib
import json
import statistics
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    start: float
    parent: str | None
    run_id: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only hands out a
    scratch attribute dict, so traced and untraced code paths are the same
    code."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._base_group = None

    def set_base_group(self, group: str) -> None:
        """Job group for Spark jobs outside any span (an untraced timed
        phase uses one group for all of its jobs)."""
        self._base_group = group
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}.{len(self.spans)}", name, time.time(),
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s.attrs
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            elif self._base_group is not None:
                self.sc.setJobGroup(self._base_group, self._base_group)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "run_id": s.run_id,
                    "attrs": s.attrs}) + "\n")


# ------------------------------------------------------------------ REST

def _epoch(ts: str | None) -> float | None:
    """'2026-01-02T03:04:05.678GMT' -> epoch seconds."""
    if not ts:
        return None
    t = time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S")
    return calendar.timegm(t) + int(ts[20:23]) / 1000.0


def _num(v: str) -> float:
    return float(v.replace(",", "").split()[0])


class SparkRest:
    """One application's status REST endpoints, read over localhost."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self, tasks: bool = False, sql: bool = False) -> "JobLog":
        jobs = self.get("/jobs")
        stages = self.get(
            f"/stages?details={'true' if tasks else 'false'}"
            "&withSummaries=false")
        execs = (self.get("/sql?details=true&planDescription=false"
                          "&offset=0&length=1000000") if sql else [])
        return JobLog(jobs, stages, execs)


class JobLog:
    """Jobs, stages and SQL executions, with each stage charged to the
    first job that ran it (a reused shuffle stage shows up as skipped in
    later jobs)."""

    def __init__(self, jobs, stages, execs):
        self.jobs = {j["jobId"]: j for j in jobs}
        done = {s["stageId"]: s for s in stages
                if s["status"] == "COMPLETE" and s.get("attemptId", 0) == 0}
        # retried attempts add their work to the stage's first attempt
        for s in stages:
            if s["status"] == "COMPLETE" and s.get("attemptId", 0) > 0:
                done.setdefault(s["stageId"], s)
        self.stages_of: dict[int, list[dict]] = {}
        owner = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stageIds"]:
                if sid in done and sid not in owner:
                    owner[sid] = jid
                    self.stages_of.setdefault(jid, []).append(done[sid])
        self.execs = execs

    def job_ids(self, groups: set[str]) -> list[int]:
        return [j for j, d in self.jobs.items() if d.get("jobGroup") in groups]

    def interval(self, jid: int) -> tuple[float, float]:
        j = self.jobs[jid]
        a = _epoch(j.get("submissionTime"))
        b = _epoch(j.get("completionTime")) or a
        return a, b

    def totals(self, jids) -> dict:
        """Work of the given jobs: counts, task CPU, shuffle, GC, spill."""
        out = {"jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "shuffle_mb": 0.0,
               "gc_s": 0.0, "spill_mb": 0.0, "task_ms": []}
        for jid in jids:
            out["jobs"] += 1
            for s in self.stages_of.get(jid, ()):
                out["tasks"] += s["numCompleteTasks"]
                out["task_cpu_s"] += s["executorCpuTime"] / 1e9
                out["shuffle_mb"] += s["shuffleWriteBytes"] / 2**20
                out["gc_s"] += s["jvmGcTime"] / 1e3
                out["spill_mb"] += s["diskBytesSpilled"] / 2**20
                out["task_ms"].extend(
                    t["duration"] for t in (s.get("tasks") or {}).values()
                    if t.get("status") == "SUCCESS" and "duration" in t)
        return out

    def scanned_rows(self, jids) -> int:
        """Rows the parquet scans of these jobs' SQL executions produced,
        after file and row-group pruning (the scan node's output rows)."""
        jids = set(jids)
        n = 0
        for e in self.execs:
            if jids & set(e.get("successJobIds", [])):
                for node in e.get("nodes", []):
                    if node["nodeName"].startswith("Scan parquet"):
                        for m in node.get("metrics", []):
                            if m["name"] == "number of output rows":
                                n += int(_num(m["value"]))
        return n


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


MEASURES = ("wall_s", "self_s", "driver_s", "jobs", "tasks", "task_p50_ms",
            "task_cpu_s", "shuffle_mb", "rows_out")


def attribute(spans: list[Span], log: JobLog, phase: tuple[float, float]):
    """Per-call layer measures, keyed ``<span name>.<measure>``, plus the
    phase-level coverage figures.

    - ``self_s``: span wall minus the part of it its child spans cover;
    - ``driver_s``: span wall minus the union of its own jobs' intervals;
    - job counts, task CPU, shuffle and task durations come from the jobs
      whose group is the span's id.
    """
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)
    per: dict[str, dict] = {}
    self_total = 0.0
    attributed_cpu = 0.0
    for s in spans:
        wall = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.id, ())]
        self_s = wall - _union(kids, s.start, s.end)
        self_total += self_s
        jids = log.job_ids({s.id})
        tot = log.totals(jids)
        attributed_cpu += tot["task_cpu_s"]
        busy = _union([log.interval(j) for j in jids], s.start, s.end)
        p = per.setdefault(s.name, {m: 0.0 for m in MEASURES}
                           | {"task_ms": [], "scanned": 0, "job_ids": []})
        p["wall_s"] += wall
        p["self_s"] += self_s
        p["driver_s"] += wall - busy
        p["jobs"] += tot["jobs"]
        p["tasks"] += tot["tasks"]
        p["task_cpu_s"] += tot["task_cpu_s"]
        p["shuffle_mb"] += tot["shuffle_mb"]
        p["rows_out"] += s.attrs.get("rows", 0)
        p["task_ms"].extend(tot["task_ms"])
        p["job_ids"].extend(jids)
    out = {}
    for name, p in per.items():
        p["task_p50_ms"] = statistics.median(p["task_ms"]) if p["task_ms"] else 0.0
        p["scanned"] = log.scanned_rows(p["job_ids"])
        for m in MEASURES:
            out[f"{name}.{m}"] = p[m]
        out[f"{name}.rows_scanned"] = p["scanned"]

    lo, hi = phase
    span_groups = {s.id for s in spans}
    in_phase = [j for j in log.jobs
                if lo <= log.interval(j)[0] <= hi]
    unattributed = [j for j in in_phase
                    if log.jobs[j].get("jobGroup") not in span_groups]
    all_tot = log.totals(in_phase)
    return out, {
        "self_coverage": self_total / max(hi - lo, 1e-9),
        "task_cpu_attributed": attributed_cpu / max(all_tot["task_cpu_s"], 1e-9),
        "unattributed_jobs": len(unattributed),
        "spark": all_tot,
    }
