"""Shared fuzz-suite helper: overlap independent, PRE-GENERATED programs.

The fuzz families each run N independent programs, and each program is a
couple of tiny Spark jobs plus a DuckDB replay — latency-bound, not
compute-bound.  Spark happily schedules concurrent jobs from driver
threads (optimization-guide §2.6), so executing pre-generated programs
from a small pool overlaps all that waiting without changing a single
program: generation stays SEQUENTIAL on the seeded rng (bit-identical
program streams), only execution is concurrent.  Each program must use
its own DuckDB connection (the module-level default connection is not
thread-safe).  The first failed program (an exception or assertion
failure) cancels every program still queued and propagates to the
caller once the programs already running finish.
"""

from __future__ import annotations

from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait


def run_concurrent(programs, run_one, workers: int = 6) -> None:
    ex = ThreadPoolExecutor(max_workers=workers)
    try:
        futures = [ex.submit(run_one, p) for p in programs]
        done, _ = wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            if f in done and f.exception() is not None:
                raise f.exception()
    finally:
        ex.shutdown(cancel_futures=True)
