"""One workload run in its own process; started by ``perfbench/run.py``,
which pins the environment this process sees.

Prints a detail line and then the result line on stdout.  With tracing
off the result's metrics are the end-to-end set; with tracing on they are
the per-layer set of ``BENCHMARK.json``, every name present, 0 where the
workload never enters the layer.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from perfbench.harness import Run
from perfbench.w_queries import run_queries
from perfbench.w_table_ops import run_table_ops

WORKLOADS = {"queries": run_queries, "table_ops": run_table_ops}

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def per_layer_units() -> dict[str, str]:
    """The per-layer metric set of ``BENCHMARK.json``: name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spawn-epoch", type=float, required=True)
    a = ap.parse_args(argv)
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), a.run_dir, a.spawn_epoch)
    try:
        layers = WORKLOADS[a.workload](run)
        setup_s = run.timed_epoch_ms / 1000.0 - a.spawn_epoch
        e2e = run.end_to_end(setup_s)
        if run.trace:
            # the event log is complete only once the context has stopped
            run.spark.stop()
            per_span = run.fold_event_log(os.path.join(a.run_dir, "events"))
            layers(per_span)
            run.layer["trace.latency_ms"] = e2e["latency_ms"]["value"]
            run.layer["trace.ops_per_s"] = e2e["ops_per_s"]["value"]
            metrics = {
                name: {"value": float(run.layer.get(name, 0.0)), "unit": unit}
                for name, unit in per_layer_units().items()
            }
        else:
            metrics = e2e
    finally:
        if run.spark is not None:
            run.spark.stop()
    run.detail["failures"] = run.failures[:20]
    print(json.dumps({"detail": run.detail}), flush=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
