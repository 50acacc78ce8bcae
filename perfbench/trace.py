"""Measurement helpers shared by the workloads: latency summaries, spans,
Spark event-log aggregation and ``/proc`` readings.

Nothing here imports Spark, so the aggregation logic is unit-tested
without a session (``perfbench/tests``).
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field
from typing import Any, Iterable, Optional

# Percentiles a ``_tail`` metric may report, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # 1-based nearest rank; the epsilon keeps 99.9% of 10000 at 9990
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten of ``n`` samples
    beyond it; the median when even that has fewer (a short run)."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            best = p
    return best


def summarize(values: list[float]) -> dict[str, Any]:
    """Median and tail of a latency sample, with the tail's percentile and
    the sample count recorded beside it."""
    p = tail_percentile(len(values))
    return {
        "p50": percentile(values, 50.0),
        "tail": percentile(values, p),
        "tail_percentile": p,
        "samples": len(values),
    }


# -- spans ------------------------------------------------------------------


@dataclass
class Span:
    span_id: str
    name: str
    parent: Optional[str]
    start_ms: float
    end_ms: float = 0.0
    run_id: str = ""

    @property
    def dur_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Records spans in memory.  Given a SparkContext ``sc``, each span
    tags the Spark jobs it submits with its id through ``setJobGroup``, so
    the event log can attribute jobs to spans.  A disabled tracer records
    nothing and costs one attribute test per span."""

    def __init__(self, run_id: str, enabled: bool, sc: Any = None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.hook_s = 0.0  # time spent inside the tracer's own hooks

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Optional[Span]:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(
            f"{self.run_id}-{len(self.spans)}",
            name,
            parent,
            time.time() * 1000.0,
            run_id=self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.span_id, name)
        self.hook_s += time.perf_counter() - t0
        return s

    def _close(self, s: Optional[Span]) -> None:
        if s is None:
            return
        t0 = time.perf_counter()
        s.end_ms = time.time() * 1000.0
        self._stack.pop()
        if self.sc is not None:
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(top.span_id, top.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.hook_s += time.perf_counter() - t0


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.span: Optional[Span] = None

    def __enter__(self) -> "_SpanCtx":
        self.span = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part of it that child spans cover."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.span_id: s.dur_ms
        - covered_ms(
            s.start_ms, s.end_ms,
            [(c.start_ms, c.end_ms) for c in children.get(s.span_id, [])],
        )
        for s in spans
    }


def covered_ms(
    start: float, end: float, intervals: Iterable[tuple[float, float]]
) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- Spark event log -------------------------------------------------------

PYTHON_ACCUMS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
JOB_COUNTERS = (
    "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.task_s",
    "spark.gc_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.input_bytes", "spark.spill_bytes",
) + tuple(PYTHON_ACCUMS.values())


@dataclass
class Job:
    job_id: int
    group: Optional[str]
    submit_ms: float
    end_ms: float = 0.0
    failed: bool = False
    stages: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)


def read_event_log(lines: Iterable[str]) -> list[Job]:
    """Jobs with their task counters summed, from uncompressed Spark
    event-log lines.  Times are epoch ms, as Spark writes them; the
    ``*_s`` counters are converted to seconds."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            j = Job(
                e["Job ID"], props.get("spark.jobGroup.id"),
                float(e["Submission Time"]), stages=list(e.get("Stage IDs", [])),
            )
            j.counters = {k: 0.0 for k in JOB_COUNTERS}
            jobs[j.job_id] = j
            for sid in j.stages:
                stage_job[sid] = j.job_id
        elif kind == "SparkListenerStageSubmitted":
            # skipped stages (shuffle output reused) are never submitted
            sid = (e.get("Stage Info") or {}).get("Stage ID")
            j = jobs.get(stage_job.get(sid, -1))
            if j is not None:
                j.counters["spark.stages"] += 1
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j.end_ms = float(e["Completion Time"])
                j.failed = (e.get("Job Result") or {}).get("Result") != "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e.get("Stage ID"), -1))
            if j is None:
                continue
            c = j.counters
            c["spark.tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                c["spark.failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            c["spark.task_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            c["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            c["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                key = PYTHON_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    c[key] += float(acc.get("Update") or 0)
    for j in jobs.values():
        if not j.end_ms:
            j.end_ms = j.submit_ms
        for k in ("python.start_s", "python.init_s", "python.run_s"):
            j.counters[k] /= 1000.0
    return sorted(jobs.values(), key=lambda j: j.job_id)


def event_log_lines(log_dir: str) -> list[str]:
    """Every event line under ``log_dir`` (plain or rolling layout)."""
    out: list[str] = []
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith(".") or f.startswith("appstatus"):
                continue
            with open(os.path.join(root, f), encoding="utf-8") as fh:
                out.extend(fh)
    return out


def attribute(
    spans: list[Span], jobs: list[Job]
) -> tuple[dict[str, dict[str, float]], dict[str, list[tuple[float, float]]]]:
    """Per span: its own jobs' summed counters with ``spark.jobs`` and
    ``gap_ms`` (the part of the span none of its own jobs covers), and
    those jobs' (submit, end) intervals.  A job belongs to the span its
    job group names; a job without one (a streaming micro-batch runs on
    Spark's own thread) belongs to the innermost span open when it was
    submitted, and to no span when none was."""
    by_id = {s.span_id: s for s in spans}
    owned: dict[str, list[Job]] = {s.span_id: [] for s in spans}
    for j in jobs:
        owner = by_id.get(j.group) if j.group else None
        if owner is None:
            open_spans = [s for s in spans if s.start_ms <= j.submit_ms <= s.end_ms]
            if not open_spans:
                continue
            owner = max(open_spans, key=lambda s: s.start_ms)
        owned[owner.span_id].append(j)
    counters: dict[str, dict[str, float]] = {}
    intervals: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        js = owned[s.span_id]
        agg = {k: 0.0 for k in JOB_COUNTERS}
        for j in js:
            for k, v in j.counters.items():
                agg[k] += v
        agg["spark.jobs"] = float(len(js))
        agg["spark.failed_jobs"] = float(sum(j.failed for j in js))
        intervals[s.span_id] = [(j.submit_ms, j.end_ms) for j in js]
        agg["gap_ms"] = s.dur_ms - covered_ms(s.start_ms, s.end_ms, intervals[s.span_id])
        counters[s.span_id] = agg
    return counters, intervals


# -- /proc ----------------------------------------------------------------


def proc_status_kb(pid: int, key: str) -> int:
    """A ``kB`` field of ``/proc/<pid>/status`` (0 when the process is gone)."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def reset_peak_rss(pid: int) -> None:
    """Reset ``VmHWM`` of ``pid`` to its current RSS (Linux 4.0+)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
            fh.write("5")
    except OSError:
        pass


def descendants(pid: int) -> list[int]:
    """Every descendant of ``pid``, zombies included, from ``/proc/*/stat``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def python_workers(jvm_pid: int) -> int:
    """Python processes the JVM has forked (daemon, workers, runners)."""
    n = 0
    for p in descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/comm", encoding="ascii") as fh:
                if fh.read().strip().startswith("python"):
                    n += 1
        except OSError:
            continue
    return n


def tree_files(path: str) -> dict[str, int]:
    """Size of every regular file under ``path``, by path."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                continue
    return out
