"""Engine benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (each in its own worker
process, one closed-loop client, Spark on ``local[<cpus>]``):

- ``queries``: headline query callables over seeded tables;
- ``table_ops``: appends, point lookups and row-level mutations on an
  engine table through the catalog and table API, and a phase of seeded
  keyed waves through a streaming upsert query.

The launcher pins the worker's environment (cpus, JVM heap, temp and
Spark local dirs inside a fresh per-run directory under the checkout,
``PYTHONPATH``), records host CPU canaries, waits for the worker and
every process it started, removes the per-run directory and prints the
worker's result as its last stdout line.  ``--trace 1`` turns on Spark's
event log and the benchmark's spans, and reports per-layer metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.canary import cpu_canary, cpu_canary_parallel  # noqa: E402
from perfbench.trace import descendants  # noqa: E402

# Spark's own default heap size, also set as the initial heap: a heap that
# never resizes keeps peak RSS steady from run to run, so peak_rss_mb moves
# with off-heap, metaspace and Python memory, and heap pressure shows as GC
JVM_HEAP = "1g"
DEADLINE_S = 170.0  # the worker and its children must be gone by then
RUNS_DIR = ".perfbench_run"
PR_SET_CHILD_SUBREAPER = 36


def _cpus() -> int:
    """``nproc`` without the package's ``OMP_NUM_THREADS=1``, which
    ``nproc`` would otherwise honour."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    try:
        out = subprocess.run(["nproc"], env=env, capture_output=True, text=True, check=True)
        return int(out.stdout.strip())
    except (OSError, subprocess.CalledProcessError, ValueError):
        return len(os.sched_getaffinity(0))


def _env(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Xms{JVM_HEAP}",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
            # Spark 4 compresses with zstd by default, which the standard
            # library cannot read
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(c)}" for c in conf
        ) + " pyspark-shell",
    })
    return env


def _become_subreaper() -> None:
    """Adopt every process orphaned below this one (Linux 3.4+).  The
    Python daemon Spark starts moves to a process group of its own, and
    its workers outlive it briefly; adopted, they are killed and waited
    for here instead of being left to an init that may never reap them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap(proc: subprocess.Popen) -> None:
    """Stop the worker and every process below this one (the JVM, the
    Python daemon and its workers) and wait until none is left."""
    me = os.getpid()
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        for p in descendants(me):
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while True:
            # the worker first, so that its exit code is kept; then any
            # adopted child that has ended
            if proc.poll() is not None:
                try:
                    while os.waitpid(-1, os.WNOHANG)[0]:
                        pass
                except ChildProcessError:
                    pass
                if not descendants(me):
                    return
            if time.monotonic() >= end:
                break
            time.sleep(0.05)
    print("perfbench: processes left after SIGKILL", file=sys.stderr)


def main() -> int:
    t_start = time.monotonic()
    # a terminated launcher still reaps its worker (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "iceberg_ruby_spark", "__init__.py")):
        print("perfbench: the iceberg_ruby_spark package is not in this checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, RUNS_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    context = {"canary_s": cpu_canary(), "canary_parallel": cpu_canary_parallel()}
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--run-dir", run_dir,
        "--spawn-epoch", repr(time.time()),
    ]
    _become_subreaper()
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=_env(run_dir, bool(a.trace)),
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        print("perfbench: worker exceeded its deadline", file=sys.stderr)
        out = ""
    finally:
        _reap(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, RUNS_DIR))
        except OSError:
            pass  # another run still uses it, or it is already gone
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    detail = json.loads(lines[-2])
    detail["context"] = context
    result = json.loads(lines[-1])
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
