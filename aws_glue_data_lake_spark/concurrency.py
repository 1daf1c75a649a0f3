"""Concurrent submission of independent Spark actions (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially. The lake/Delta/Iceberg commit paths contain pairs of
provably independent staging writes (the CDC change file and the main
data rewrite; the equality-delete file and the inserted data files) that
each target their own unique ``_stage_*`` directory and only feed the
single-threaded commit step AFTER both complete — so overlapping them
changes wall-clock, not commit-log contents or ordering.

``run_jobs`` keeps FIFO scheduling (the first job's tasks get resources
first, later jobs back-fill the tail) and propagates the caller thread's
job group / description and session tags into the pool threads via
``inheritable_thread_target`` so concurrent jobs stay correctly labelled,
also when a pool thread calls ``run_jobs`` again.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession


def run_jobs(*thunks: Callable) -> list:
    """Run independent Spark-action thunks concurrently; results in order.

    No thunks give ``[]``; a single thunk is a plain call (no pool, no
    extra threads). Exceptions propagate: the first failing thunk's
    exception is raised after all submitted thunks finish (staging side
    effects land in per-thunk unique dirs, so a failed sibling leaves no
    shared debris — the caller's commit never runs).
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    try:
        # active(), not getActiveSession(): inside a pool thread only the
        # default session is set, and a nested run_jobs must still pass
        # the outer caller's tags on to its own threads.
        session = SparkSession.active()
    except PySparkRuntimeError:  # no session at all: nothing to propagate
        wrapped = thunks
    else:
        wrap = inheritable_thread_target(session)
        wrapped = tuple(wrap(t) for t in thunks)
    with ThreadPoolExecutor(max_workers=min(len(thunks), 4)) as pool:
        futures = [pool.submit(t) for t in wrapped]
        return [f.result() for f in futures]
