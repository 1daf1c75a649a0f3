"""Tracing for the per-layer run, all from outside the library.

Four span sources, each enabled only with ``--trace 1``:

* :class:`Spans` — named intervals around the benchmark's own calls into
  a layer (``session``, ``operators.cdc``, the format layers, ``queries``,
  ``streaming.pipelines``), kept in memory and written out at run end;
* :class:`TracedTarget` — a duck-typed proxy around a ``merge_cdc_batch``
  target, so the pipeline's own time (``cdc.self_s``) splits from the
  format layer's;
* :class:`JobLog` — Spark jobs and their stages, read from the status
  store after every op (the engine's session retains only 100 jobs) and
  attributed to the op whose interval holds their submission — exact,
  because one client runs ops one at a time;
* :class:`ProgressLog` — a ``StreamingQueryListener`` that keeps every
  micro-batch's ``durationMs``.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Spans:
    """In-memory span recorder; a disabled recorder records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.items: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.items)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.time(), "end": None}
        self.items.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_seconds(self) -> dict[str, float]:
        """Per span name, over the spans of timed ops only (setup and
        warm-up spans have no op): duration minus the part its children
        cover."""
        timed = [s for s in self.items if s["op"] is not None]
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in timed:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in timed:
            out[s["name"]] += (s["end"] - s["start"]) - union_length(kids[s["id"]])
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.items}, f)


class TracedTarget:
    """Proxy around a ``merge_cdc_batch`` target (``exists``, ``create``,
    ``stat_max``, ``read``, ``upsert``) that records a ``<fmt>.<method>``
    span per call."""

    _TRACED = ("exists", "create", "stat_max", "read", "upsert")

    def __init__(self, target, fmt: str, spans: Spans):
        self._target = target
        self._fmt = fmt
        self._spans = spans

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if name not in self._TRACED or not self._spans.enabled:
            return attr

        def call(*args, **kwargs):
            with self._spans.span(f"{self._fmt}.{name}"):
                return attr(*args, **kwargs)

        return call


def _epoch_s(opt) -> float | None:
    """Epoch seconds from a Scala ``Option[java.util.Date]``."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class JobLog:
    """Spark job and stage records from the driver's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self.jobs: list[dict] = []
        self._seen: set[int] = set()
        self.cached_bytes_peak = 0

    def poll(self, op: int | None, t0: float, t1: float) -> None:
        """Record every finished job not seen yet; ``op`` owns the jobs
        submitted inside ``[t0, t1]``."""
        seq = self._store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid in self._seen or str(j.status()) == "RUNNING":
                continue
            self._seen.add(jid)
            sub = _epoch_s(j.submissionTime())
            end = _epoch_s(j.completionTime())
            rec = {"job": jid, "start": sub, "end": end, "tasks": j.numTasks(),
                   "op": op if sub is not None and t0 - 0.001 <= sub <= t1 + 0.001 else None,
                   "run_s": 0.0, "input_bytes": 0, "shuffle_write_bytes": 0, "output_bytes": 0}
            stages = j.stageIds()
            for k in range(stages.size()):
                attempts = self._store.stageData(stages.apply(k), False, None, False, None)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    rec["run_s"] += st.executorRunTime() / 1000.0
                    rec["input_bytes"] += st.inputBytes()
                    rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    rec["output_bytes"] += st.outputBytes()
            self.jobs.append(rec)
        cached = 0
        for info in self._sc._jsc.sc().getRDDStorageInfo():
            cached += info.memSize() + info.diskSize()
        self.cached_bytes_peak = max(self.cached_bytes_peak, cached)

    def op_jobs(self, op: int) -> list[dict]:
        return [j for j in self.jobs if j["op"] == op and j["end"] is not None]


class ProgressLog:
    """Keeps every micro-batch progress of every streaming query."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.batches: list[dict] = []
        self._open = 0
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log._cv:
                    log._open += 1

            def onQueryProgress(self, event):
                p = event.progress
                rec = {"batch": p.batchId, "rows": p.numInputRows,
                       "duration_ms": dict(p.durationMs or {}),
                       "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                       "state_rows": sum(s.numRowsTotal for s in p.stateOperators)}
                with log._cv:
                    log.batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log._cv:
                    log._open -= 1
                    log._cv.notify_all()

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's termination was delivered."""
        with self._cv:
            self._cv.wait_for(lambda: self._open <= 0, timeout)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
