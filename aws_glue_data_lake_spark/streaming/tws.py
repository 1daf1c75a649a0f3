"""transformWithState support (SURVEY.md §2.10/§2.11 — the Spark 4
arbitrary-stateful-processing API that supersedes applyInPandasWithState:
typed state handles (ValueState / ListState / MapState), timers, TTL, and
a RocksDB-backed state store).

Two environment seams live here:

1. **Protobuf runtime discovery.** The Python side of transformWithState
   speaks to the JVM state server via protobuf
   (``pyspark/sql/streaming/proto/StateMessage_pb2.py``), so it hard-requires
   ``google.protobuf`` — which is not installed in this container's
   site-packages. A pure-Python protobuf runtime *is* on disk (shipped
   inside the Google Cloud SDK's bundled App Engine toolchain), so
   :func:`ensure_protobuf_env` discovers it, wires it into ``sys.path``
   driver-side, and propagates it to spawned Python workers via
   ``sc.environment`` (worker PYTHONPATH is merged from the function's
   env vars at launch, so this works on an already-running vanilla session
   — no JVM restart needed). The runtime predates the gencode by one minor
   version, so the documented
   ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` escape hatch is set too;
   the round-trip is verified by the oracle hash, not assumed.

2. **RocksDB state store.** transformWithState requires
   ``RocksDBStateStoreProvider`` (the HDFS-backed default store doesn't
   implement the multi-column-family layout typed state handles need).
   :func:`rocksdb_state_store` scopes the provider switch to one query and
   restores the session default after, so co-resident streaming queries
   keep their original store.

Scale notes (100 TB): state is per-key rows in RocksDB shards — one shard
per state-store partition, spillable to disk, so state capacity scales
with executor *disk*, not heap (the reason this API is the 100 TB
arbitrary-state path over applyInPandasWithState's in-memory store). The
group key here is ``user_id``; the shuffle is identical to the equivalent
batch groupBy.
"""

from __future__ import annotations

import os
import sys

from aws_glue_data_lake_spark.session import scoped_conf

#: Candidate directories containing a pure-Python ``google/protobuf``
#: runtime package. Only used when ``import google.protobuf`` fails from
#: site-packages; existence-checked, never assumed.
PROTOBUF_FALLBACK_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_PB_BYPASS = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"


def _protobuf_fallback_dir() -> str | None:
    for d in PROTOBUF_FALLBACK_DIRS:
        if os.path.isdir(os.path.join(d, "google", "protobuf")):
            return d
    return None


def _ensure_local_protobuf() -> bool:
    """Make ``google.protobuf`` importable in THIS process (driver or an
    unpickling worker). Returns True when usable."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        pass
    d = _protobuf_fallback_dir()
    if d is None:
        return False
    os.environ.setdefault(_PB_BYPASS, "true")
    if d not in sys.path:
        sys.path.append(d)  # append: site-packages keeps precedence
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


# Run at import so that a worker unpickling the processor class (module
# imported by reference) repairs its own process before the state-server
# protocol first needs protobuf.
HAVE_PROTOBUF = _ensure_local_protobuf()


def ensure_protobuf_env(spark) -> bool:
    """Driver-side: make protobuf importable locally AND in every Python
    worker the session will spawn (TWS driver worker + executor workers).

    Worker propagation rides ``sc.environment`` — those env vars are
    attached to each serialized Python function and merged into the
    worker's PYTHONPATH at launch, which is the only channel that works on
    a session whose JVM is already running (the driver owns the session;
    we never restart it). The repo root is appended as well so workers can
    import this module by reference regardless of their cwd.
    """
    if not _ensure_local_protobuf():
        return False
    sc = spark.sparkContext
    extra = [d for d in (_protobuf_fallback_dir(),) if d]
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    extra.append(repo_root)
    sc.environment[_PB_BYPASS] = "true"
    prev = sc.environment.get("PYTHONPATH", "")
    parts = [p for p in prev.split(":") if p]
    for p in extra:
        if p not in parts:
            parts.append(p)
    sc.environment["PYTHONPATH"] = ":".join(parts)
    return True


#: Commit mechanics for the scoped RocksDB provider. Changelog
#: checkpointing persists the per-batch DELTA instead of a full snapshot
#: zip per store instance per commit — O(changed keys) commit cost, which
#: is both the measured local win (~1 s per drained query) and the right
#: production setting for frequent micro-batch commits (snapshots still
#: happen, on the background maintenance thread). trackTotalNumberOfRows
#: spends a lookup per write to maintain a metrics-only row counter —
#: results are unaffected.
_ROCKSDB_TUNING: dict[str, str] = {
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
}


def rocksdb_state_store(spark):
    """Scope ``RocksDBStateStoreProvider`` (+ commit tuning) to one
    streaming query start.

    The provider is captured into the query's offset log at ``start()``,
    so it must be set before and can be restored right after the drain —
    leaving the session's other streaming queries on their default store.
    """
    return scoped_conf(spark, {_PROVIDER_CONF: _ROCKSDB_PROVIDER, **_ROCKSDB_TUNING})


try:  # gate: StatefulProcessor only exists on PySpark >= 4.0
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    HAVE_TWS = True
except ImportError:  # pragma: no cover - PySpark < 4.0
    StatefulProcessor = object  # type: ignore[assignment,misc]
    StatefulProcessorHandle = None  # type: ignore[assignment,misc]
    HAVE_TWS = False


class UserTypeStatsProcessor(StatefulProcessor):
    """Per-user running stats with TWO typed state handles:

    - ``ValueState`` ``(n, vsum_us, ntypes)`` — event count, exact value
      sum in integer micro-units (fixture values carry ≤6 decimals, so
      scaling to int64 keeps the cross-batch accumulation associative and
      drift-free, same trick as the applyInPandasWithState twin) and the
      MapState's key count;
    - ``MapState`` ``event_type → count`` — per-type counts whose key
      cardinality (distinct types per user) is what the emitted
      ``n_types`` reads out. A MapState entry is one RocksDB KV pair, so
      per-user type maps never materialize as one blob row.

    Emits the running totals per key per micro-batch (Update mode); on a
    finite replay the last emit per key — the one with the max ``n_events``,
    strictly monotone between emits — equals the batch aggregate.
    """

    def init(self, handle: "StatefulProcessorHandle") -> None:
        # n_types rides in the ValueState instead of being recounted by
        # iterating the whole MapState per key per batch — every state
        # access is a protobuf round trip to the JVM state server, and
        # the keys() walk paid one per entry (guide §4: cut boundary
        # crossings). The count is maintained exactly: +1 whenever a
        # type key is first inserted, so it always equals the map's key
        # cardinality.
        # "agg_v2": the state gained ntypes after "agg" held (n, vsum_us)
        # only. A new name makes a checkpoint written before the change
        # fail cleanly instead of misreading its 2-field rows.
        self._agg = handle.getValueState(
            "agg_v2", "n BIGINT, vsum_us BIGINT, ntypes BIGINT"
        )
        self._types = handle.getMapState("type_counts", "t STRING", "c BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        (user_id,) = key
        # get() returns None when absent — one round trip, not exists()+get()
        st = self._agg.get()
        n, vsum_us, n_types = st if st is not None else (0, 0, 0)
        for pdf in rows:
            n += len(pdf)
            vsum_us += int((pdf["value"] * 1e6).round().astype("int64").sum())
            for etype, cnt in pdf["event_type"].value_counts().items():
                prev = self._types.getValue((etype,))
                if prev is None:
                    n_types += 1
                    prev = (0,)
                self._types.updateValue((etype,), (prev[0] + int(cnt),))
        self._agg.update((n, vsum_us, n_types))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "n_types": n_types,
                    "value_sum": round(vsum_us / 1e6, 6),
                }
            ]
        )

    def close(self) -> None:
        pass


class SeededUserStatsProcessor(StatefulProcessor):
    """State bootstrapping (``initialState``): the batch→streaming
    migration seam. ``handleInitialState`` seeds the ValueState from a
    batch aggregate (one row per key, delivered before the first
    micro-batch touches that key); ``handleInputRows`` then accumulates
    streamed rows on top. The emitted totals therefore cover history the
    stream never replayed — which is the entire point: at 100 TB you
    bootstrap from the warehouse aggregate and stream only the delta,
    instead of replaying the archive through the stream.

    State: ``(n, vsum_us)`` with the same int64 micro-units trick as
    :class:`UserTypeStatsProcessor`. Keys with seeded state but no
    streamed rows never emit (Update mode emits only processed keys) —
    the oracle's HAVING clause mirrors that.
    """

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._agg = handle.getValueState("agg", "n BIGINT, vsum_us BIGINT")

    def handleInitialState(self, key, initialState, timerValues) -> None:
        # one batch row per key: (n, vsum_us) already in micro-units
        row = initialState.iloc[0]
        self._agg.update((int(row["n"]), int(row["vsum_us"])))

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        (user_id,) = key
        st = self._agg.get()  # None when absent: one state round trip
        n, vsum_us = st if st is not None else (0, 0)
        for pdf in rows:
            n += len(pdf)
            vsum_us += int((pdf["value"] * 1e6).round().astype("int64").sum())
        self._agg.update((n, vsum_us))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "value_sum": round(vsum_us / 1e6, 6),
                }
            ]
        )

    def close(self) -> None:
        pass


class ListStateMedianProcessor(StatefulProcessor):
    """ListState for an honestly non-mergeable statistic: the exact
    median needs every value, so the state IS the value list — exactly
    the shape ListState exists for (appendList is an O(delta) RocksDB
    write per batch; the full list is only re-read to emit). Values are
    held as int64 micro-units so the emitted ``median2_us`` (lower +
    upper middle, ×2 to stay integral) is exact — no double rounding to
    reconcile across engines.

    Scale: per-key state grows with that key's row count — this is the
    API member whose cost model the docstring must state: use it when the
    per-key payload is genuinely bounded (here: events per user), never
    for corpus-sized keys.
    """

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._vals = handle.getListState("vals", "v BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        fresh: list[tuple[int]] = []
        for pdf in rows:
            fresh.extend(
                (int(v),) for v in (pdf["value"] * 1e6).round().astype("int64")
            )
        if fresh:
            self._vals.appendList(fresh)
        arr = np.sort(np.fromiter((r[0] for r in self._vals.get()), dtype="int64"))
        n = len(arr)
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "median2_us": int(arr[n // 2] + arr[(n - 1) // 2]),
                }
            ]
        )

    def close(self) -> None:
        pass


class TimerFlushStatsProcessor(StatefulProcessor):
    """Event-time TIMERS — the last transformWithState leg: emission is
    driven by the watermark clock, not by data arrival.

    ``handleInputRows`` only accumulates (it yields nothing) and arms a
    single per-key timer just past the current watermark — replacing any
    pending timer via listTimers/deleteTimer, so each key holds at most
    one. When the watermark passes the armed point (next micro-batch, or
    the trailing no-data batch after the final data batch), Spark calls
    ``handleExpiredTimer``, which emits the running totals. Because every
    data batch re-arms the timer, the LAST expiry per key necessarily
    fires after all of that key's data — so the final emission equals the
    batch aggregate, and any output at all proves the timer path ran
    (nothing else emits).

    This is the streaming shape of "flush on quiesce": per-key session
    dumps, TTL'd feature snapshots, inactivity-triggered exports — all
    watermark-clocked, state-bounded by key count.
    """

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._handle = handle
        self._agg = handle.getValueState("agg", "n BIGINT, vsum_us BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        st = self._agg.get()  # None when absent: one state round trip
        n, vsum_us = st if st is not None else (0, 0)
        for pdf in rows:
            n += len(pdf)
            vsum_us += int((pdf["value"] * 1e6).round().astype("int64").sum())
        self._agg.update((n, vsum_us))
        for t_ms in list(self._handle.listTimers()):
            self._handle.deleteTimer(t_ms)
        self._handle.registerTimer(timerValues.getCurrentWatermarkInMs() + 1)
        return iter(())  # accumulation only — emission belongs to the timer

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import pandas as pd

        (user_id,) = key
        st = self._agg.get()
        if st is None:  # pragma: no cover - defensive
            return
        n, vsum_us = st
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "value_sum": round(vsum_us / 1e6, 6),
                }
            ]
        )

    def close(self) -> None:
        pass
