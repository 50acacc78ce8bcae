"""Host CPU canaries, recorded beside every run so that a reader can tell
a slower program from a slower host.  The workloads are the ones
``bench.py`` times (same buffers and iteration counts), so the figures
compare with its ``cpu_canary_sec`` and ``cpu_canary_parallel``."""

from __future__ import annotations

import concurrent.futures
import hashlib
import multiprocessing
import os
import time


def cpu_canary() -> float:
    """Seconds for a fixed single-threaded sha256 chain over 1 MiB."""
    buf = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    d = buf
    for _ in range(400):
        d = hashlib.sha256(d + buf).digest()
    return time.perf_counter() - t0


def _burst(_i: int) -> float:
    d = b"x" * 8192
    t0 = time.perf_counter()
    for _ in range(10000):
        d = hashlib.sha256(d).digest() * 256
    return time.perf_counter() - t0


def cpu_canary_parallel() -> dict:
    """One burst alone, then one per CPU at once: ``scaling`` is the
    effective number of cores the host gave."""
    single = _burst(0)
    n = min(32, len(os.sched_getaffinity(0)))
    # forked workers share locks that need no resource-tracker process,
    # which would outlive the caller
    ctx = multiprocessing.get_context("fork")
    with concurrent.futures.ProcessPoolExecutor(n, mp_context=ctx) as ex:
        list(ex.map(abs, range(n)))  # start the workers outside the timing
        t0 = time.perf_counter()
        list(ex.map(_burst, range(n)))
        wall = time.perf_counter() - t0
    return {"n": n, "single_s": single, "wall_s": wall, "scaling": n * single / wall}
