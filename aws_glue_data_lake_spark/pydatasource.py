"""Custom connectors via the Python DataSource API (SURVEY.md §2.1
breadth): the Spark 4 seam for sources Spark has no built-in reader for —
internal feed services, bespoke wire formats, metered APIs. One source
class serves BOTH batch and streaming reads of a deterministic synthetic
CDC feed (id/op/ts/value derived arithmetically from the row id, so a SQL
oracle can reproduce every byte without touching the connector).

What the implementation exercises, deliberately one of each:

- **Partitioned parallel batch reads** — ``partitions()`` splits the id
  range into ``n_parts`` :class:`RangePartition` slices; each executor
  task calls ``read()`` for its slice. This is the distribution contract:
  a connector that returns one partition serializes the whole scan
  through one task at 100 TB.
- **Arrow-vectorized rows** — ``read()`` yields ``pyarrow.RecordBatch``
  (the fast path the API added for exactly this reason), not per-row
  tuples.
- **Filter pushdown** — ``pushFilters()`` absorbs ``id >= / <`` range
  predicates into the partition planner (unsupported filters are yielded
  back for Spark to re-apply), so selective scans prune partitions at the
  source. Needs ``spark.sql.python.filterPushdown.enabled=true`` — a
  runtime conf the query sets on the caller's session.
- **Streaming offsets** — :class:`CdcFeedStreamReader` implements the
  ``SimpleDataSourceStreamReader`` contract: ``initialOffset`` /
  ``read(start) -> (rows, nextOffset)`` / ``readBetweenOffsets`` (replay
  for recovery) / ``commit``. Each micro-batch advances the offset by one
  ``slab``; the finite feed then reports no new data, so
  ``streaming/pipelines.drain_all`` drains it in exactly
  ``ceil(n_rows/slab)`` batches.

Availability note: ``Trigger.AvailableNow`` only consumes the simple
stream reader's first prefetched slab (admission control for Python
sources has no read-limit hook), so streaming queries over this source
drain with ``streaming/pipelines.drain_all`` (or ``run_drain_all``)
instead.
"""

from __future__ import annotations

import math

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    SimpleDataSourceStreamReader,
)

#: Feed epoch — every ts_us derives from this, one second per id.
BASE_US = 1_700_000_000_000_000

FEED_SCHEMA = "id BIGINT, batch INT, op STRING, ts_us BIGINT, value DOUBLE"

#: The oracle twin of :func:`_feed_batch`, parameterized over a DuckDB
#: relation ``g(id)``; any query over this source states its semantics as
#: SQL over this expression.
FEED_SQL = f"""
SELECT id,
       CAST(id % 6 AS INT) AS batch,
       CASE WHEN id % 10 = 9 THEN 'D'
            WHEN id % 10 >= 6 THEN 'U'
            ELSE 'I' END AS op,
       {BASE_US} + id * 1000000 AS ts_us,
       CAST(id % 997 AS DOUBLE) / 100.0 AS value
FROM g
"""


def _feed_batch(lo: int, hi: int):
    """The feed's content for ids [lo, hi) as one Arrow RecordBatch —
    pure arithmetic on the id, identical to FEED_SQL."""
    import numpy as np
    import pyarrow as pa

    ids = np.arange(lo, hi, dtype=np.int64)
    m = ids % 10
    op = np.where(m == 9, "D", np.where(m >= 6, "U", "I"))
    return pa.record_batch(
        {
            "id": pa.array(ids),
            "batch": pa.array((ids % 6).astype("int32")),
            "op": pa.array(op.tolist(), type=pa.string()),
            "ts_us": pa.array(BASE_US + ids * 1_000_000),
            "value": pa.array((ids % 997).astype("float64") / 100.0),
        }
    )


class RangePartition(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi


class CdcFeedReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10_000))
        self.n_parts = int(options.get("n_parts", 8))
        self.lo, self.hi = 0, self.n_rows

    def pushFilters(self, filters):
        for f in filters:
            if isinstance(f, GreaterThanOrEqual) and f.attribute == ("id",):
                self.lo = max(self.lo, int(f.value))
            elif isinstance(f, LessThan) and f.attribute == ("id",):
                self.hi = min(self.hi, int(f.value))
            else:
                yield f  # not ours — Spark re-applies it post-scan

    def partitions(self):
        span = max(0, self.hi - self.lo)
        step = max(1, math.ceil(span / self.n_parts))
        return [
            RangePartition(lo, min(lo + step, self.hi))
            for lo in range(self.lo, self.hi, step)
        ]

    def read(self, partition):
        yield _feed_batch(partition.lo, partition.hi)


class CdcFeedStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10_000))
        self.slab = int(options.get("slab", 2_000))

    def initialOffset(self):
        return {"next": 0}

    def read(self, start):
        lo = int(start["next"])
        hi = min(lo + self.slab, self.n_rows)
        if lo >= hi:
            return iter([]), {"next": lo}
        return self._tuples(lo, hi), {"next": hi}

    def readBetweenOffsets(self, start, end):
        # deterministic replay of a committed range (failure recovery)
        return self._tuples(int(start["next"]), int(end["next"]))

    def commit(self, end):
        pass  # nothing to clean up: the feed is arithmetic

    @staticmethod
    def _tuples(lo: int, hi: int):
        batch = _feed_batch(lo, hi)
        return iter([tuple(r.values()) for r in batch.to_pylist()])


class CdcFeedDataSource(DataSource):
    """``spark.read.format("cdc_feed")`` / ``spark.readStream.format(...)``
    after ``spark.dataSource.register(CdcFeedDataSource)``."""

    @classmethod
    def name(cls):
        return "cdc_feed"

    def schema(self):
        return FEED_SCHEMA

    def reader(self, schema):
        return CdcFeedReader(self.options)

    def simpleStreamReader(self, schema):
        return CdcFeedStreamReader(self.options)


def register_feed_source(spark) -> None:
    """Idempotently register the source + enable Python filter pushdown
    (a runtime conf — safe to set on the caller's vanilla session)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CdcFeedDataSource)


# ---------------------------------------------------------------------------
# Write side of the API: a JSON-lines directory SINK with the two-phase
# commit every distributed sink needs — executor tasks stage part files
# and return a WriterCommitMessage; the DRIVER promotes staged files to
# their final names and stamps a _SUCCESS manifest only in commit()
# (abort() discards the staging dir), so readers never observe a torn
# write: a task can fail and retry after staging, and nothing it staged
# becomes visible unless the whole job commits.
# ---------------------------------------------------------------------------
import json as _json
import os as _os
import shutil as _shutil
import uuid as _uuid

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


class _StagedFile(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int):
        self.path, self.n_rows = path, n_rows


class JsonDirWriter(DataSourceWriter):
    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("json_dir_sink requires a 'path' option")
        self.columns = schema.fieldNames()
        self.stage_dir = _os.path.join(self.path, "_staging")

    def write(self, iterator):
        _os.makedirs(self.stage_dir, exist_ok=True)
        tmp = _os.path.join(self.stage_dir, f"task-{_uuid.uuid4().hex}.json")
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(_json.dumps(dict(zip(self.columns, row))) + "\n")
                n += 1
        return _StagedFile(tmp, n)

    def commit(self, messages):
        parts = [m for m in messages if m is not None and m.n_rows > 0]
        total = 0
        for i, m in enumerate(sorted(parts, key=lambda m: m.path)):
            _os.replace(m.path, _os.path.join(self.path, f"part-{i:05d}.json"))
            total += m.n_rows
        _shutil.rmtree(self.stage_dir, ignore_errors=True)
        with open(_os.path.join(self.path, "_SUCCESS"), "w") as f:
            _json.dump({"n_files": len(parts), "n_rows": total}, f)

    def abort(self, messages):
        _shutil.rmtree(self.stage_dir, ignore_errors=True)


class JsonDirSinkDataSource(DataSource):
    """``df.write.format("json_dir_sink").option("path", dir).save()``."""

    @classmethod
    def name(cls):
        return "json_dir_sink"

    def writer(self, schema, overwrite):
        return JsonDirWriter(self.options, schema)


def register_sink_source(spark) -> None:
    spark.dataSource.register(JsonDirSinkDataSource)


# ---------------------------------------------------------------------------
# STREAMING write side: same staged-files protocol, but per micro-batch
# with the batchId in the commit — which is what makes redelivery safe:
# a batch that was already committed (its marker file exists) is skipped
# wholesale, so at-least-once delivery from the engine folds to
# exactly-once visibility in the directory. This is the Python-API
# mirror of the lake layer's idempotent txn appends.
# ---------------------------------------------------------------------------
from pyspark.sql.datasource import DataSourceStreamWriter


class JsonStreamDirWriter(DataSourceStreamWriter):
    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("json_stream_sink requires a 'path' option")
        self.columns = schema.fieldNames()
        self.stage_dir = _os.path.join(self.path, "_staging")

    def write(self, iterator):
        _os.makedirs(self.stage_dir, exist_ok=True)
        tmp = _os.path.join(self.stage_dir, f"task-{_uuid.uuid4().hex}.json")
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(_json.dumps(dict(zip(self.columns, row))) + "\n")
                n += 1
        return _StagedFile(tmp, n)

    def commit(self, messages, batchId):
        marker = _os.path.join(self.path, f"_commit-{batchId:05d}")
        parts = [m for m in messages if m is not None and m.n_rows > 0]
        if _os.path.exists(marker):  # redelivered batch: drop the restage
            for m in parts:
                _os.unlink(m.path)
            return
        total = 0
        for i, m in enumerate(sorted(parts, key=lambda m: m.path)):
            _os.replace(
                m.path,
                _os.path.join(self.path, f"batch-{batchId:05d}-{i:05d}.json"),
            )
            total += m.n_rows
        with open(marker, "w") as f:
            _json.dump({"batch_id": batchId, "n_files": len(parts), "n_rows": total}, f)

    def abort(self, messages, batchId):
        for m in messages or []:
            if m is not None and _os.path.exists(m.path):
                _os.unlink(m.path)


class JsonStreamSinkDataSource(DataSource):
    """``df.writeStream.format("json_stream_sink").option("path", dir)``."""

    @classmethod
    def name(cls):
        return "json_stream_sink"

    def streamWriter(self, schema, overwrite):
        return JsonStreamDirWriter(self.options, schema)


def register_stream_sink_source(spark) -> None:
    spark.dataSource.register(JsonStreamSinkDataSource)
