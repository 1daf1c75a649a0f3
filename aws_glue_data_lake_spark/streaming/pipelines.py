"""Streaming pipelines over the ``events`` fixture.

Design notes
------------
- Source: file-source ``readStream`` with an explicit schema (streaming
  readers cannot infer). The schema is peeked from the staged parquet
  footers with a one-off batch read at stream-build time — never assumed —
  because ``events.ts``'s physical type drifts across producers
  (TIMESTAMP(NANOS) → int64 epoch-ns under ``nanosAsLong``,
  TIMESTAMP(MICROS) → TIMESTAMP_NTZ). Whatever arrives is normalized to
  epoch-µs ``ts_us`` via the dtype-dispatching ``tables.ts_us_col``, then
  to a proper timestamp via ``timestamp_micros`` for event-time operators.
- Event time: ``withWatermark`` bounds state for late data. The fixture
  replay arrives as one availableNow batch, so nothing is actually late —
  the watermark is exercised as API + state-bound, with ``complete`` output
  mode so single-batch replay still emits final results (append mode would
  hold windows newer than the watermark in state forever on a finite
  replay; Spark rejects update mode for session windows).
- Sink: in-memory table per run (unique query name), the standard pattern
  for deterministic streaming tests.

Scale notes (100 TB): tumbling/session aggregation state is partitioned by
(group key) — the shuffle is keyed exactly like the equivalent batch
groupBy; the watermark bounds state size to the lateness horizon. At real
scale the memory sink becomes kafka/parquet and availableNow becomes a
continuous trigger; the dataflow is unchanged.
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from aws_glue_data_lake_spark.session import scoped_conf, session_memo, session_tmpdir

#: Events schema with the LEGACY int64 epoch-ns event time. Kept as the
#: synthetic-fixture schema for tests that pin the legacy-producer path;
#: real readers peek the staged footers instead (see module docstring).
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _stream_with_event_time(spark: SparkSession, stage: str, reader_opts) -> DataFrame:
    """Build the file-source stream over ``stage`` with the schema its
    parquet footers actually carry (one metadata-only batch read — streaming
    sources can't infer), then attach the canonical epoch-µs ``ts_us`` and
    ``event_time`` columns via the same dtype dispatch the batch side uses."""
    from aws_glue_data_lake_spark.tables import ts_us_col

    schema = spark.read.parquet(stage).schema
    reader = spark.readStream.schema(schema)
    reader = reader_opts(reader)
    raw = reader.format("parquet").load(stage)
    return raw.withColumn("ts_us", ts_us_col(raw)).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )


_run_ids = itertools.count()

#: Upper bound on one availableNow drain: a replay that runs longer is an
#: error, never a partial result.
_DRAIN_TIMEOUT_S = 120


@session_memo
def _events_stage(spark: SparkSession, sf_dir: str, n_files: int | None) -> str:
    """The events fixture as a drop-dir: the file symlinked in (one batch),
    or re-split into ``n_files`` files. Immutable once written, so every
    query over the same replay shape (tumbling_multibatch and the funnel
    both drain the 6-file split) shares one staging write."""
    stage = session_tmpdir("events_stream_")
    if n_files is None:
        # Zero-copy staging, read-only on the fixture.
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(stage, "events.parquet"),
        )
    else:
        spark.read.parquet(
            os.path.join(sf_dir, "events.parquet")
        ).repartition(n_files).write.mode("overwrite").parquet(stage)
    return stage


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    n_files: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events fixture; emits epoch-µs ``ts_us``
    plus a proper ``event_time`` timestamp for windowing.

    Default: the fixture file is symlinked into a drop-dir and replays as
    ONE batch. Pass ``n_files``/``max_files_per_trigger`` to split the
    fixture into n files and drain them k-per-micro-batch — a genuine
    multi-batch replay that exercises cross-batch state merge and
    watermark advancement."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stage = _events_stage(spark, sf_dir, n_files)

    def _opts(reader):
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader

    return _stream_with_event_time(spark, stage, _opts)


def stage_ordered_batches(batches: list[DataFrame]) -> str:
    """Write each DataFrame as ONE parquet file in a fresh drop-dir with
    strictly increasing mtimes, so a file-source stream with
    ``maxFilesPerTrigger=1`` replays them as micro-batches in exactly this
    order (FileStreamSource schedules by modification time). This is the
    deterministic stand-in for 'events arriving out of order over time' —
    the late-data fixture a watermark test needs.

    The N batch writes are independent single-task jobs (each a filter of
    the fixture scan), so they run from a small thread pool (guide §2.6 —
    concurrent jobs back-fill idle cores; ~0.4 s apiece sequentially).
    Replay ORDER does not ride on write completion order: the mtimes that
    FileStreamSource schedules by are stamped explicitly afterwards."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    stage = session_tmpdir("events_batches_")
    now = time.time()

    def _write(i_df):
        i, df = i_df
        tmp = os.path.join(stage, f"_tmp_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = [
            p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet")
        ]
        dst = os.path.join(stage, f"b{i}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        return dst

    with ThreadPoolExecutor(max_workers=min(4, len(batches) or 1)) as pool:
        dsts = list(pool.map(_write, enumerate(batches)))
    for i, dst in enumerate(dsts):
        os.utime(dst, (now + 10 * i, now + 10 * i))
    return stage


def read_staged_batches_stream(
    spark: SparkSession, stage: str
) -> DataFrame:
    """File-source stream over a ``stage_ordered_batches`` drop-dir, one
    staged file per micro-batch, with the engine's ts_us/event_time
    convention (staged ``ts`` keeps whatever dtype the batch writer had —
    the footer peek + dtype dispatch normalizes either way)."""
    return _stream_with_event_time(
        spark, stage, lambda r: r.option("maxFilesPerTrigger", 1)
    )


def tumbling_window_agg(
    stream: DataFrame, width: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time window per event_type: count + exact-decimal value
    sum. Epoch-aligned windows, reported as epoch-µs window_start."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", width).alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def session_window_agg(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-merged session windows per user: a session extends while
    consecutive events arrive within ``gap``; ends ``gap`` after the last."""
    return (
        stream.withWatermark("event_time", "1 hour")
        .groupBy(F.session_window("event_time", gap).alias("w"), "user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("ts_us").alias("first_ts_us"),
            F.max("ts_us").alias("last_ts_us"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "first_ts_us",
            "last_ts_us",
        )
    )


def drain_available_now(writer: DataStreamWriter) -> None:
    """Start ``writer`` under an availableNow trigger, wait until it has
    consumed everything the source held at start, and stop it. A drain
    still running after ``_DRAIN_TIMEOUT_S`` raises instead of letting the
    caller read a partial sink."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(_DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not drain within "
                f"{_DRAIN_TIMEOUT_S}s — refusing to read a partial sink"
            )
    finally:
        q.stop()


def drain_all(writer: DataStreamWriter) -> None:
    """Start ``writer`` under an unpaced micro-batch trigger, block until
    the source reports no new offsets, and stop it.

    For sources that pace themselves by offsets (a custom Python data
    source emitting one slab per micro-batch, a rate-limited CDF source):
    ``Trigger.AvailableNow`` consumes only the first prefetched slab of a
    Python stream reader (the admission control API has no Python
    read-limit hook), while ``processAllAvailable()`` returns after exactly
    ceil(total/slab) batches for a finite feed."""
    q = writer.trigger(processingTime="0 seconds").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _memory_sink(
    result: DataFrame, output_mode: str
) -> tuple[str, DataStreamWriter]:
    name = f"stream_result_{next(_run_ids)}"
    writer = result.writeStream.format("memory").queryName(name)
    return name, writer.outputMode(output_mode)


def run_available_now(
    result: DataFrame, output_mode: str, shuffle_partitions: int = 8
) -> DataFrame:
    """Drain the stream with an availableNow trigger into a uniquely-named
    in-memory table; return the final table as a batch DataFrame.

    ``shuffle_partitions`` sizes the *state store* — a stateful streaming
    query creates one state-store instance per shuffle partition per
    micro-batch, and that per-instance commit overhead dominates small
    streams (measured 3-4× on the bench fixtures: 29s → 8.5s). The knob is
    captured in the query's offset log at start, so it must be set before
    ``start()``; on a real cluster size it to key cardinality × throughput
    (state shards should be ~100MB), not to the batch-side default.
    """
    spark = result.sparkSession
    name, writer = _memory_sink(result, output_mode)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": shuffle_partitions}):
        drain_available_now(writer)
    return spark.table(name)


def run_drain_all(
    result: DataFrame, output_mode: str, shuffle_partitions: int = 8
) -> DataFrame:
    """``run_available_now`` for offset-paced sources: the same memory sink,
    drained by ``drain_all``."""
    spark = result.sparkSession
    name, writer = _memory_sink(result, output_mode)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": shuffle_partitions}):
        drain_all(writer)
    return spark.table(name)
