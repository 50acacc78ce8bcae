"""What every workload shares: the Spark session, the closed-loop timer,
failure accounting, and the end-to-end and per-layer metric sets."""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from perfbench.trace import (
    Span, Tracer, attribute, covered_ms, event_log_lines, percentile,
    proc_status_kb, python_workers, read_event_log, reset_peak_rss,
    self_times, summarize,
)


@dataclass
class OpRecord:
    kind: str
    ms: float
    ok: bool
    span: Optional[Span]


@dataclass
class Run:
    """One workload run inside the worker process."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    spawn_epoch: float  # wall time the launcher started this process
    spark: Any = None
    tracer: Optional[Tracer] = None
    ops: list[OpRecord] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict[str, Any] = field(default_factory=dict)
    workers_peak: int = 0
    timed_epoch_ms: float = 0.0
    timed_wall_s: float = 0.0
    peak_rss_kb: int = 0

    # -- session ----------------------------------------------------------
    def start_session(self) -> float:
        """Start Spark; returns seconds since the process was spawned."""
        from iceberg_ruby_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        start_s = time.time() - self.spawn_epoch
        self.layer["session.start_s"] = start_s
        sc = self.spark.sparkContext
        self.tracer = Tracer(f"{self.workload}-{self.seed}", self.trace, sc)
        self.detail["master"] = sc.master
        self.detail["default_parallelism"] = sc.defaultParallelism
        return start_s

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def sample_workers(self) -> None:
        """Python worker processes right now, between two operations."""
        if self.trace:
            self.workers_peak = max(self.workers_peak, python_workers(self.jvm_pid))

    # -- failure accounting ----------------------------------------------
    def check(self, what: str, ok: bool, why: str = "") -> bool:
        """Count one correctness check; a failed one counts in ``failed``
        like an operation that raised."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {why}"[:400])
        return ok

    def guarded(self, what: str, fn: Callable[[], Any]) -> Any:
        """Run an untimed step; an exception counts as one failed check
        and yields None."""
        try:
            return fn()
        except Exception:  # boundary: one failing step must not end the run
            self.check(what, False, _tb())
            return None

    # -- closed loop -------------------------------------------------------
    def timed(self, kind: str, fn: Callable[[], Any]) -> Any:
        """Run one operation and record its latency; an exception marks it
        failed and yields None."""
        self.attempted += 1
        ok, out = True, None
        t0 = time.perf_counter()
        ctx = self.tracer.span(kind)
        try:
            with ctx:
                out = fn()
        except Exception:
            ok = False
            self.failed += 1
            self.failures.append(f"{kind}: {_tb()}"[:400])
        self.ops.append(OpRecord(kind, (time.perf_counter() - t0) * 1000.0, ok, ctx.span))
        self.sample_workers()
        return out

    def loop(self, one_round: Callable[[int], None], min_rounds: int = 1) -> None:
        """Closed loop of whole rounds until ``seconds`` have passed and at
        least ``min_rounds`` ran; each operation starts only after the
        previous one returned.  The peak RSS of this Python process and the
        JVM is read when the loop ends, so that the checks that follow it
        do not count; this process's is also reset when the loop starts,
        so that the benchmark's own set-up (input generation) does not
        count."""
        reset_peak_rss(os.getpid())
        self.timed_epoch_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        round_s: list[float] = []
        while True:
            a = time.perf_counter()
            one_round(len(round_s))
            round_s.append(time.perf_counter() - a)
            if len(round_s) >= min_rounds and time.perf_counter() - t0 >= self.seconds:
                break
        self.timed_wall_s = time.perf_counter() - t0
        peaks = {"python": proc_status_kb(os.getpid(), "VmHWM"),
                 "jvm": proc_status_kb(self.jvm_pid, "VmHWM")}
        self.peak_rss_kb = sum(peaks.values())
        self.detail["peak_rss_kb"] = peaks
        self.detail["rounds"] = len(round_s)
        self.detail["round_s"] = round_s

    # -- results ----------------------------------------------------------
    def latencies(self, kinds: tuple[str, ...]) -> list[float]:
        return [o.ms for o in self.ops if o.ok and o.kind in kinds]

    def end_to_end(self, setup_s: float) -> dict[str, dict[str, Any]]:
        """``latency_ms`` is the geometric mean over the operation kinds of
        each kind's median latency: a fixed mix of kinds whose latencies
        differ tenfold has no steady pooled median."""
        lat = [o.ms for o in self.ops if o.ok]
        kinds = sorted({o.kind for o in self.ops if o.ok})
        typical = math.exp(
            sum(math.log(self.kind_p50(k)) for k in kinds) / len(kinds)
        )
        # the pooled tail with its percentile and sample count; a run has
        # too few samples for it to be a steady metric, and too few of one
        # kind for a per-kind tail above the median
        s = summarize(lat)
        self.detail.update(
            tail_ms=s["tail"], tail_percentile=s["tail_percentile"],
            samples=s["samples"], timed_wall_s=self.timed_wall_s,
            p50_ms_by_kind={k: self.kind_p50(k) for k in kinds},
        )
        return {
            "setup_s": {"value": setup_s, "unit": "s"},
            "latency_ms": {"value": typical, "unit": "ms"},
            "ops_per_s": {"value": len(lat) / self.timed_wall_s, "unit": "1/s"},
            "peak_rss_mb": {"value": self.peak_rss_kb / 1024.0, "unit": "MB"},
        }

    def kind_p50(self, kind: str) -> float:
        lat = self.latencies((kind,))
        return percentile(lat, 50.0) if lat else 0.0

    def fold_event_log(self, event_dir: str) -> dict[str, dict[str, float]]:
        """Fold the event log into per-operation ``spark.*`` and
        ``python.*`` layer metrics over the timed section; returns the
        per-span attribution for workload-specific layers."""
        spans = self.tracer.spans
        per_span, intervals = attribute(
            spans, read_event_log(event_log_lines(event_dir))
        )
        top = [o.span for o in self.ops if o.span is not None]
        n = max(1, len(top))
        timed_ids = _subtree_ids(spans, {s.span_id for s in top})
        tot: dict[str, float] = {}
        for sid in timed_ids:
            for k, v in per_span[sid].items():
                tot[k] = tot.get(k, 0.0) + v
        for k, v in tot.items():
            if k.startswith(("spark.", "python.")):
                self.layer[k] = v / n
        # gap: time inside an operation that none of its jobs covers
        self.layer["spark.gap_s"] = sum(
            _gap_ms(s, spans, intervals) for s in top
        ) / 1000.0 / n
        self.layer["python.workers_peak"] = float(self.workers_peak)
        selfs = self_times(spans)
        by_name: dict[str, float] = {}
        for s in spans:
            if s.span_id in timed_ids:
                by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.span_id]
        self.detail["self_ms_by_span"] = {k: round(v, 1) for k, v in by_name.items()}
        self.layer["trace.hook_ms_per_op"] = self.tracer.hook_s * 1000.0 / n
        return per_span


def _subtree_ids(spans: list[Span], roots: set[str]) -> set[str]:
    out = set(roots)
    grew = True
    while grew:
        grew = False
        for s in spans:
            if s.parent in out and s.span_id not in out:
                out.add(s.span_id)
                grew = True
    return out


def _gap_ms(top: Span, spans: list[Span], intervals: dict) -> float:
    """A top-level span's time not covered by any job in its subtree."""
    ids = _subtree_ids(spans, {top.span_id})
    ivs = [iv for sid in ids for iv in intervals[sid]]
    return top.dur_ms - covered_ms(top.start_ms, top.end_ms, ivs)


def _tb() -> str:
    return traceback.format_exc(limit=4).replace("\n", " | ")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
