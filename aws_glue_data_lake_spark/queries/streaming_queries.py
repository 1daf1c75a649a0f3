"""Streaming queries as oracle-checkable entries (SURVEY.md §2.10/§7 Phase 5).

Each query runs a real Structured Streaming pipeline (file source →
watermarked event-time aggregation → availableNow drain into a memory
sink) and returns the final table. Because the fixture replays as one
batch, the final state is deterministic and — unusually for streaming —
*SQL-expressible*, so these get full DuckDB oracles instead of rows-only
checks: tumbling windows are epoch-µs bucket math; session windows are the
classic gaps-and-islands rewrite.

The foreachBatch CDC upsert (the streaming generalization of the
reference's batch merge, icberg/iceberg_tables.py:115-153) drains the feed
through ``operators.cdc.full_load``/``incremental_merge`` inside
``foreachBatch``; its final state matches the batch pipeline's oracle.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_glue_data_lake_spark.concurrency import run_jobs
from aws_glue_data_lake_spark.lake import LakeTable
from aws_glue_data_lake_spark.operators.cdc import merge_cdc_batch
from aws_glue_data_lake_spark.queries.base import Registry
from aws_glue_data_lake_spark.session import session_memo, session_tmpdir
from aws_glue_data_lake_spark.queries.cdc_queries import _OP_CASE_SQL, _SENTINEL_US
from aws_glue_data_lake_spark.tables import ts_us_col
from aws_glue_data_lake_spark.streaming.pipelines import (
    drain_all,
    drain_available_now,
    read_events_stream,
    read_staged_batches_stream,
    run_available_now,
    run_drain_all,
    session_window_agg,
    stage_ordered_batches,
    tumbling_window_agg,
)

REGISTRY = Registry()
_q = REGISTRY.query

_TEN_MIN_US = 600_000_000
_GAP_US = 1_800_000_000  # 30 minutes


@_q(
    "streaming_tumbling_counts",
    oracle=f"""
SELECT (CAST(EPOCH_US(ts) AS BIGINT) // {_TEN_MIN_US}) * {_TEN_MIN_US} AS window_start_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
ORDER BY window_start_us, event_type
""",
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    final = run_available_now(tumbling_window_agg(stream), output_mode="complete")
    return final.orderBy("window_start_us", "event_type")


# Same aggregation, but drained as SIX genuine micro-batches
# (maxFilesPerTrigger=1 over a 6-file split): window state merges across
# batches and the watermark advances at every boundary, so the green hash
# match certifies cross-batch state-store correctness — not just a
# single-batch replay wearing streaming clothes. Final state of a finite
# replay is batch-order-independent, hence the same oracle.
@_q(
    "streaming_tumbling_multibatch",
    oracle=f"""
SELECT (CAST(EPOCH_US(ts) AS BIGINT) // {_TEN_MIN_US}) * {_TEN_MIN_US} AS window_start_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
ORDER BY window_start_us, event_type
""",
)
def streaming_tumbling_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(
        spark, sf_dir, n_files=6, max_files_per_trigger=1
    )
    final = run_available_now(tumbling_window_agg(stream), output_mode="complete")
    return final.orderBy("window_start_us", "event_type")


# Sliding (hopping) windows — the §2.10 member between tumbling and
# session: width 20 min, slide 10 min, so every event lands in EXACTLY two
# epoch-aligned windows (width/slide = 2) and the oracle is a 2-way UNNEST
# of the event's slide bucket b → window starts {b−slide, b}. State per
# key is (width/slide)× the tumbling equivalent — the scale cost of
# overlap is explicit and bounded by the ratio, not the stream.
_SLIDE_US = _TEN_MIN_US


@_q(
    "streaming_sliding_counts",
    oracle=f"""
WITH e AS (
  SELECT CAST(EPOCH_US(ts) AS BIGINT) AS ts_us, event_type, value FROM events
), b AS (
  SELECT event_type, value, (ts_us // {_SLIDE_US}) * {_SLIDE_US} AS bucket
  FROM e
), x AS (
  SELECT event_type, value,
         UNNEST([bucket - {_SLIDE_US}, bucket]) AS window_start_us
  FROM b
)
SELECT window_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM x
GROUP BY 1, 2
ORDER BY window_start_us, event_type
""",
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("event_time", "1 hour")
        .groupBy(
            F.window("event_time", "20 minutes", "10 minutes").alias("w"),
            "event_type",
        )
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
    final = run_available_now(agg, output_mode="complete")
    return final.orderBy("window_start_us", "event_type")


@_q(
    "streaming_session_windows",
    oracle=f"""
WITH e AS (
  SELECT user_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us FROM events
), flagged AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                   > {_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM e
), islands AS (
  SELECT user_id, ts_us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) + {_GAP_US} AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts_us) AS first_ts_us,
       MAX(ts_us) AS last_ts_us
FROM islands
GROUP BY user_id, session_no
ORDER BY user_id, session_start_us
""",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    final = run_available_now(session_window_agg(stream), output_mode="complete")
    return final.orderBy("user_id", "session_start_us")


@_q(
    "streaming_cdc_upsert_state",
    oracle=f"""
WITH feed AS (
  SELECT *, {_OP_CASE_SQL} AS op FROM events
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS row_num
  FROM feed
  WHERE ts > TIMESTAMP '1900-01-01 00:00:00'
)
SELECT event_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts,
       user_id, event_type, value, props
FROM ranked
WHERE row_num = 1 AND (op IS NULL OR op IN ('I', 'U'))
ORDER BY user_id
""",
)
def streaming_cdc_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch CDC upsert into a versioned lake table: batch 0 runs the
    reference-parity full load (CTAS snapshot v1); every later micro-batch
    is a ROW-LEVEL merge — watermark from manifest stats (zero jobs), then
    ``LakeTable.upsert`` rewrites only the data files whose key range
    overlaps the batch. Per-batch I/O is O(batch + affected files), never
    O(target) — the Structured Streaming version of the reference's
    job-bookmark loop (icberg/iceberg_tables.py:115-153) with Iceberg-v2's
    copy-on-write MERGE (:37,143-146) instead of a table rewrite. Final
    state == the batch full-load oracle."""
    stream = read_events_stream(spark, sf_dir)
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "purchase", "U")
        .when(F.col("event_type") == "view", "U")
        .otherwise(F.lit(None).cast("string"))
    )
    feed = stream.withColumn("op", op).withColumn("ts", F.col("ts_us")).drop(
        "ts_us", "event_time"
    )
    tmp = session_tmpdir("cdc_stream_")
    table = LakeTable(f"{tmp}/target")

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        merge_cdc_batch(table, batch, keys=["user_id"], date_col="ts",
                        tiebreakers=["event_id"], sentinel=_SENTINEL_US)

    drain_available_now(
        feed.writeStream.foreachBatch(merge_batch).option(
            "checkpointLocation", f"{tmp}/chk"
        )
    )
    final = table.read(spark).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    return final.orderBy("user_id")


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState — the escape hatch for
# semantics the built-in windowed aggregations can't express (per-key
# custom accumulators, decaying counters, ML feature state...). Here the
# state is a per-user (count, value-sum, min/max ts) accumulator updated
# per micro-batch; on a finite availableNow replay the final emit equals
# the batch aggregate, which is the oracle.
# ---------------------------------------------------------------------------
def _user_stats_state(key, pdfs, state):
    import pandas as pd

    (user_id,) = key
    n, vsum, tmin, tmax = state.get() if state.exists else (0, 0.0, None, None)
    for pdf in pdfs:
        n += len(pdf)
        # decimal-free exact sum: fixture values have ≤6 decimals, so scale
        # to integer micros to stay associative across batches
        vsum += int(round(float(pdf["value"].sum()) * 1e6))
        lo, hi = int(pdf["ts_us"].min()), int(pdf["ts_us"].max())
        tmin = lo if tmin is None else min(tmin, lo)
        tmax = hi if tmax is None else max(tmax, hi)
    state.update((n, vsum, tmin, tmax))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_events": n,
                "value_sum": round(vsum / 1e6, 6),
                "first_ts_us": tmin,
                "last_ts_us": tmax,
            }
        ]
    )


@_q(
    "streaming_stateful_user_stats",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum,
       MIN(CAST(EPOCH_US(ts) AS BIGINT)) AS first_ts_us,
       MAX(CAST(EPOCH_US(ts) AS BIGINT)) AS last_ts_us
FROM events
WHERE user_id < 200
GROUP BY user_id
ORDER BY user_id
""",
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    stream = read_events_stream(spark, sf_dir)
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("value_sum", DoubleType()),
            StructField("first_ts_us", LongType()),
            StructField("last_ts_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("vsum", LongType()),
            StructField("tmin", LongType()),
            StructField("tmax", LongType()),
        ]
    )
    # user_id < 200 bounds the *group count*, which is what the Python
    # stateful path pays for (one state round-trip per key per batch);
    # the built-in aggregations handle unbounded key spaces — reach for
    # applyInPandasWithState only when the state logic demands custom code.
    stats = (
        stream.select("user_id", "ts_us", "value")
        .where(F.col("user_id") < 200)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_state,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    final = run_available_now(stats, output_mode="update")
    return final.orderBy("user_id")


# ---------------------------------------------------------------------------
# Late-arriving data under a real watermark: events replay as FOUR
# deterministic micro-batches —
#   b0: older rows (ts ≤ tmax−90min) with even event_id — establish the wm;
#   b1: the middle-fresh band (tmax−90min, tmax−30min] — advances the wm
#       and, crucially, puts one full batch between b0 and the late rows;
#   b2: the odd-id old rows arrive LATE — the watermark filter drops those
#       whose 10-minute window already closed, keeps the rest;
#   b3: the freshest 30 minutes — push the wm so surviving windows
#       finalize in APPEND mode (the trailing no-data batch flushes state).
#
# The oracle replays Spark's watermark arithmetic in SQL, with two
# empirically pinned micro-batch-engine facts (verified against
# numRowsDroppedByWatermark and the sink hash, Spark 4.1.2):
#   1. the LATE-INPUT filter for batch N uses the watermark computed from
#      data through batch N−2 (one batch behind the eviction watermark —
#      so b2's filter is wm(b0) = max_ms(b0) − delay_ms, in µs), dropping
#      rows with window_end ≤ wm;
#   2. APPEND emits a window exactly once, when the end-of-batch watermark
#      passes window_end — after the final no-data batch that is
#      window_end ≤ wm(all data).
# Both drop and keep are visible in the output: windows in
# (wm(b0), wm(all)] finalize WITH their late b2 contributions, older
# windows finalize without them.
#
# Scale: this is the operational core of every streaming aggregate at
# 100 TB — state size is bounded by the lateness horizon, and what the
# watermark drops is *defined*, not incidental.
# ---------------------------------------------------------------------------
_LATE_DELAY = "3599 seconds"  # odd on purpose: never lands on a window edge
_LATE_DELAY_MS = 3_599_000
_FRESH_US = 1_800_000_000  # b3 = freshest 30 minutes
_MID_US = 5_400_000_000  # b1 = (tmax-90min, tmax-30min]
_WIN_US = _TEN_MIN_US


@_q(
    "streaming_late_data_drop",
    oracle=f"""
WITH e AS (
  SELECT event_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us, event_type, value
  FROM events
),
p AS (SELECT MAX(ts_us) AS tmax FROM e),
b AS (
  SELECT e.*, CASE WHEN ts_us > tmax - {_FRESH_US} THEN 3
                   WHEN ts_us > tmax - {_MID_US} THEN 1
                   WHEN event_id % 2 = 0 THEN 0 ELSE 2 END AS batch
  FROM e, p
),
wm0 AS (
  SELECT (MAX(ts_us) // 1000 - {_LATE_DELAY_MS}) * 1000 AS wm
  FROM b WHERE batch = 0
),
wmf AS (
  SELECT (MAX(ts_us) // 1000 - {_LATE_DELAY_MS}) * 1000 AS wm FROM e
),
kept AS (
  SELECT * FROM b WHERE batch <> 2
  UNION ALL
  SELECT b.* FROM b, wm0
  WHERE batch = 2
    AND (ts_us // {_WIN_US}) * {_WIN_US} + {_WIN_US} > wm0.wm
)
SELECT (ts_us // {_WIN_US}) * {_WIN_US} AS window_start_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM kept, wmf
WHERE (ts_us // {_WIN_US}) * {_WIN_US} + {_WIN_US} <= wmf.wm
GROUP BY 1, 2
ORDER BY window_start_us, event_type
""",
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _late_batches_dir(spark, sf_dir)
    stream = read_staged_batches_stream(spark, stage)
    final = run_available_now(
        tumbling_window_agg(stream, watermark=_LATE_DELAY),
        output_mode="append",
    )
    return final.orderBy("window_start_us", "event_type")


@session_memo
def _late_batches_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the four-batch late-data fixture once per (session, sf_dir)."""
    from aws_glue_data_lake_spark.queries.base import t

    ev = t(spark, sf_dir, "events")
    ts_us = ts_us_col(ev)
    tmax = ev.agg(F.max(ts_us)).first()[0]
    old = ts_us <= F.lit(tmax - _MID_US)
    mid = (ts_us > F.lit(tmax - _MID_US)) & (ts_us <= F.lit(tmax - _FRESH_US))
    even = F.col("event_id") % 2 == 0
    return stage_ordered_batches(
        [
            ev.where(old & even),
            ev.where(mid),
            ev.where(old & ~even),
            ev.where(ts_us > F.lit(tmax - _FRESH_US)),
        ]
    )


# ---------------------------------------------------------------------------
# Stream–stream windowed join (the §2.10 capability step past aggregation):
# a view→purchase funnel — every purchase by a user within 30 minutes of
# one of their views. Both sides are WATERMARKED STREAMS drained as six
# genuine micro-batches (maxFilesPerTrigger=1 over a hash-split of the
# fixture), so a view arriving in batch 0 must wait in the join state
# store until its matching purchase lands in a later batch: the green hash
# certifies cross-batch join-state correctness, not a single-batch replay.
#
# Inner stream–stream joins emit a pair in the micro-batch where the
# second side arrives; the time-bound condition (purchase within
# [view, view+30min]) plus the watermarks are what let Spark evict state.
# The replay spans the fixture's full 30-day history, so the delay is
# sized past it and no state is evicted — eviction semantics are already
# pinned by streaming_late_data_drop; THIS query pins matching. At 100 TB
# the delay becomes the real lateness horizon (minutes), and state per
# key is bounded by horizon × arrival rate exactly as in batch 0 here.
# ---------------------------------------------------------------------------
_FUNNEL_BOUND_US = 1_800_000_000  # purchase within 30 min of the view


@_q(
    "streaming_stream_join_funnel",
    oracle=f"""
WITH e AS (
  SELECT event_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us, user_id, event_type
  FROM events
)
SELECT v.user_id AS user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       p.ts_us - v.ts_us AS gap_us
FROM e v JOIN e p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts_us >= v.ts_us AND p.ts_us <= v.ts_us + {_FUNNEL_BOUND_US}
ORDER BY user_id, view_event_id, purchase_event_id
""",
)
def streaming_stream_join_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(
        spark, sf_dir, n_files=6, max_files_per_trigger=1
    )
    views = (
        stream.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts_us").alias("view_ts_us"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", "40 days")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts_us").alias("purchase_ts_us"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "40 days")
    )
    pairs = views.join(
        purchases,
        on=[
            views.v_user_id == purchases.p_user_id,
            purchases.purchase_time >= views.view_time,
            purchases.purchase_time
            <= views.view_time + F.expr("INTERVAL 30 MINUTES"),
        ],
        how="inner",
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_event_id",
        "purchase_event_id",
        (F.col("purchase_ts_us") - F.col("view_ts_us")).alias("gap_us"),
    )
    # A stream-stream join keeps FOUR state stores per shuffle partition
    # (two sides × key/value indexes), so its per-partition commit cost is
    # ~4× an aggregation's — halve the aggs' 8-partition default (measured
    # 7.0 s → 5.5 s per run; 2 partitions is no better than 4).
    final = run_available_now(pairs, output_mode="append", shuffle_partitions=4)
    return final.orderBy("user_id", "view_event_id", "purchase_event_id")


# ---------------------------------------------------------------------------
# The TIGHT-horizon funnel: same view→purchase join, but with a realistic
# (minutes) watermark over a time-ORDERED multi-batch replay, so join-state
# EVICTION is exercised, not just matching (the 40-day variant above sizes
# its horizon past the replay on purpose and never evicts).
#
# Staging: events split into four time-quartile batches replayed in order,
# plus a fifth batch that re-delivers every quartile-0 PURCHASE days late.
# With time-ordered batches the correctness of on-time pairs needs no
# empirical micro-batch facts: when a purchase in quartile i is processed,
# every watermark the engine can be using is ≤ max(earlier quartiles) − Δ
# < purchase_ts − Δ ≤ view_ts + 30min − Δ, so the matching view is still in
# state for ANY eviction-lag convention — while the slab's views went out
# of state quartiles ago (days ≫ 30min + Δ), so slab purchases can never
# pair, whether the engine drops them as late input or probes empty state.
# The oracle is therefore exact: all within-bound pairs whose purchase is
# NOT in quartile 0. Dropped-vs-kept differs from the unbounded variant at
# every sf (5 of 20 pairs vanish at sf0.01).
#
# Scale: this is the shape a 100 TB funnel actually ships — state per key
# bounded by (lateness horizon × arrival rate), with eviction doing real
# work every micro-batch instead of accumulating a month of views.
# ---------------------------------------------------------------------------
_TIGHT_DELAY = "5 minutes"


@_q(
    "streaming_stream_join_funnel_tight",
    oracle=f"""
WITH e AS (
  SELECT event_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us, user_id, event_type
  FROM events
),
span AS (SELECT MIN(ts_us) AS tmin, MAX(ts_us) AS tmax FROM e),
banded AS (
  SELECT e.*, (4 * (ts_us - tmin)) // (tmax - tmin + 1) AS band FROM e, span
)
SELECT v.user_id AS user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       p.ts_us - v.ts_us AS gap_us
FROM banded v JOIN banded p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts_us >= v.ts_us AND p.ts_us <= v.ts_us + {_FUNNEL_BOUND_US}
WHERE p.band > 0
ORDER BY user_id, view_event_id, purchase_event_id
""",
)
def streaming_stream_join_funnel_tight(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _funnel_tight_batches_dir(spark, sf_dir)
    stream = read_staged_batches_stream(spark, stage)
    views = (
        stream.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts_us").alias("view_ts_us"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", _TIGHT_DELAY)
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts_us").alias("purchase_ts_us"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", _TIGHT_DELAY)
    )
    pairs = views.join(
        purchases,
        on=[
            views.v_user_id == purchases.p_user_id,
            purchases.purchase_time >= views.view_time,
            purchases.purchase_time
            <= views.view_time + F.expr("INTERVAL 30 MINUTES"),
        ],
        how="inner",
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_event_id",
        "purchase_event_id",
        (F.col("purchase_ts_us") - F.col("view_ts_us")).alias("gap_us"),
    )
    # 4 state-store partitions — see the unbounded funnel's sizing note.
    final = run_available_now(pairs, output_mode="append", shuffle_partitions=4)
    return final.orderBy("user_id", "view_event_id", "purchase_event_id")


@session_memo
def _funnel_tight_batches_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the five-batch tight-funnel fixture once per (session, sf_dir):
    four time-quartile batches in order, then quartile-0's purchases
    re-delivered days late as the final batch."""
    from aws_glue_data_lake_spark.queries.base import t

    ev = t(spark, sf_dir, "events")
    ts_us = ts_us_col(ev)
    tmin, tmax = ev.agg(F.min(ts_us), F.max(ts_us)).first()
    # The oracle's "slab purchases can never pair" premise needs the late
    # slab to be unpairable: quartile width must exceed the 30-minute join
    # bound plus the watermark delay. Fail loudly on a short-span fixture
    # instead of silently diverging from the oracle.
    quartile_us = (tmax - tmin) // 4
    min_span_us = _FUNNEL_BOUND_US + 5 * 60 * 1_000_000  # 30min bound + 5min delay
    if quartile_us <= min_span_us:
        raise AssertionError(
            f"events span too short for the tight-funnel oracle: quartile "
            f"width {quartile_us}us must exceed join bound + watermark delay "
            f"({min_span_us}us); regenerate or widen the fixture"
        )
    # Exact integer floor-div, mirrored by the oracle's `//`.
    banded = ev.withColumn("_us", ts_us).withColumn(
        "_band", F.expr(f"(4 * (_us - {tmin})) div {tmax - tmin + 1}")
    )
    slab = (F.col("_band") == 0) & (F.col("event_type") == "purchase")
    helper_cols = ("_us", "_band")
    return stage_ordered_batches(
        [banded.where((F.col("_band") == i) & ~slab).drop(*helper_cols) for i in range(4)]
        + [banded.where(slab).drop(*helper_cols)]
    )


# ---------------------------------------------------------------------------
# Streaming dedup (dropDuplicatesWithinWatermark) — the LLM-ingest shape:
# an at-least-once source replays a whole slab of already-delivered rows
# (here micro-batch 1 re-sends a third of batch 0), and the dedup operator
# must restore exactly-once without a lake-side txn. Key state is kept
# only within the watermark horizon, so state size is bounded by
# (horizon × arrival rate), not corpus size — the property that makes
# this viable for a 100 TB document firehose where a full-corpus
# dropDuplicates would need unbounded state. The replay spans the whole
# fixture history, so the horizon is sized past it here; in production
# it's the redelivery window (minutes/hours).
#
# After dedup the stream equals the original events table exactly, so the
# oracle is a plain aggregate over events — any duplicate surviving (or
# any original dropped) breaks n_events, distinct ids, and the exact sum.
# ---------------------------------------------------------------------------
@_q(
    "streaming_dedup_replayed_ingest",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def streaming_dedup_replayed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _replay_batches_dir(spark, sf_dir)
    stream = read_staged_batches_stream(spark, stage)
    deduped = stream.withWatermark(
        "event_time", "40 days"
    ).dropDuplicatesWithinWatermark(["event_id"])
    final = run_available_now(deduped, output_mode="append")
    return (
        final.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("event_id").cast("bigint").alias("n_distinct_ids"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .orderBy("event_type")
    )


@session_memo
def _replay_batches_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the three-batch replayed-ingest fixture once per
    (session, sf_dir): b0 = two thirds of events, b1 = an exact replay of
    half of b0 (the at-least-once redelivery), b2 = the final third."""
    from aws_glue_data_lake_spark.queries.base import t

    ev = t(spark, sf_dir, "events")
    first = F.col("event_id") % 3 != 2
    return stage_ordered_batches(
        [
            ev.where(first),
            ev.where(F.col("event_id") % 6 == 0),  # replayed slab of b0
            ev.where(~first),
        ]
    )


# ---------------------------------------------------------------------------
# Stream–static enrichment — the most common production streaming shape:
# each event joins a SLOWLY-CHANGING dimension (here: customer market
# segment) before the windowed aggregate. The static side is
# dimension-sized, so Spark broadcasts it into every micro-batch — no
# stream-side shuffle for the join, no join state at all (unlike
# stream-stream): the only state is the downstream window aggregate's.
# At 100 TB the dim refreshes per batch via the broadcast re-resolution;
# key-cardinality state cost is unchanged from the unenriched aggregate.
# Events with no dimension row survive with segment 'UNKNOWN' (left join
# — enrichment must never drop facts).
# ---------------------------------------------------------------------------
_HOUR_US = 3_600_000_000


@_q(
    "streaming_enriched_segment_counts",
    oracle=f"""
SELECT (CAST(EPOCH_US(e.ts) AS BIGINT) // {_HOUR_US}) * {_HOUR_US}
         AS window_start_us,
       COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY window_start_us, segment
""",
)
def streaming_enriched_segment_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from aws_glue_data_lake_spark.queries.base import t as _t

    stream = read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("dim_key"), "c_mktsegment"
    )
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.dim_key, "left"
    ).select(
        "event_time",
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        "value",
    )
    agg = (
        enriched.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour").alias("w"), "segment")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "segment",
            "n_events",
            "value_sum",
        )
    )
    final = run_available_now(agg, output_mode="complete")
    return final.orderBy("window_start_us", "segment")


# ---------------------------------------------------------------------------
# LEFT OUTER stream–stream join — the §2.10 semantics the inner funnels
# can't pin: views with NO within-bound purchase must surface with a NULL
# right side, and Spark may emit that null row only when the watermark
# proves no match can still arrive (state eviction). Reuses the tight
# funnel's time-ordered quartile replay (+ the late-slab batch), so every
# class of output is provable, not empirical:
# - matched pairs = exactly the tight variant's (slab purchases arrive
#   below the watermark and are dropped on input; every band>0 purchase
#   arrives while its view is provably still in state — see the tight
#   funnel's quartile argument);
# - null rows = views with no band>0 within-bound purchase whose eviction
#   point (view_time + 30min) falls strictly below the FINAL watermark.
#   The final watermark is NOT global-max − 5min: with two watermarked
#   inputs Spark advances the query watermark to the MINIMUM across
#   operators (multipleWatermarkPolicy=min default), so it is
#   least(max view time, max purchase time) − 5min — on this fixture the
#   purchase side runs ~30min dry at the end and is the binding side.
#   Views above that point stay in state when the drain ends and emit
#   nothing — the oracle excludes them, mirroring a production stream
#   where "no match yet" ≠ "no match".
# The staging helper asserts no view sits within ±4 ms of the eviction
# boundary (watermarks are millisecond-granular), so the strict-vs-lax
# eviction convention can never flip a fixture row.
# At 100 TB this is the shape of every "sessionless attribution" job:
# outer state per key is bounded by the lateness horizon exactly like the
# inner join's, plus one pending-eviction row per unmatched view.
# ---------------------------------------------------------------------------
_OUTER_DELAY_US = 300_000_000  # 5 minutes, matches _TIGHT_DELAY


@_q(
    "streaming_stream_join_funnel_outer",
    oracle=f"""
WITH e AS (
  SELECT event_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us, user_id, event_type
  FROM events
),
span AS (SELECT MIN(ts_us) AS tmin, MAX(ts_us) AS tmax,
                LEAST(MAX(CASE WHEN event_type = 'view' THEN ts_us END),
                      MAX(CASE WHEN event_type = 'purchase' THEN ts_us END))
                  AS wm_src
         FROM e),
banded AS (
  SELECT e.*, (4 * (ts_us - tmin)) // (tmax - tmin + 1) AS band FROM e, span
),
matched AS (
  SELECT v.user_id AS user_id,
         v.event_id AS view_event_id,
         p.event_id AS purchase_event_id,
         p.ts_us - v.ts_us AS gap_us
  FROM banded v JOIN banded p
    ON v.user_id = p.user_id
   AND v.event_type = 'view' AND p.event_type = 'purchase'
   AND p.ts_us >= v.ts_us AND p.ts_us <= v.ts_us + {_FUNNEL_BOUND_US}
  WHERE p.band > 0
),
nulls AS (
  SELECT v.user_id AS user_id,
         v.event_id AS view_event_id,
         CAST(NULL AS BIGINT) AS purchase_event_id,
         CAST(NULL AS BIGINT) AS gap_us
  FROM banded v, span
  WHERE v.event_type = 'view'
    AND v.ts_us + {_FUNNEL_BOUND_US} < wm_src - {_OUTER_DELAY_US}
    AND v.event_id NOT IN (SELECT view_event_id FROM matched)
)
SELECT * FROM (
  SELECT * FROM matched
  UNION ALL
  SELECT * FROM nulls
)
ORDER BY user_id, view_event_id, COALESCE(purchase_event_id, -1)
""",
)
def streaming_stream_join_funnel_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.queries.base import t

    # Boundary guard: eviction compares at watermark (ms) granularity, so
    # a view whose expiry lands within ±4 ms of the final watermark could
    # classify differently under the engine's strict-vs-lax convention.
    ev = t(spark, sf_dir, "events")
    us = ts_us_col(ev)
    wm_src = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "view", us)),
            F.max(F.when(F.col("event_type") == "purchase", us)),
        )
    ).first()[0]
    boundary = wm_src - _OUTER_DELAY_US - _FUNNEL_BOUND_US
    near = ev.where(
        (F.col("event_type") == "view")
        & (F.abs(us - F.lit(boundary)) <= 4000)
    )
    if not near.isEmpty():
        raise AssertionError(
            "a view's eviction point sits within 4ms of the final "
            "watermark; the outer-join oracle would be convention-"
            "dependent — regenerate or widen the fixture"
        )
    stage = _funnel_tight_batches_dir(spark, sf_dir)
    stream = read_staged_batches_stream(spark, stage)
    views = (
        stream.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts_us").alias("view_ts_us"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", _TIGHT_DELAY)
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts_us").alias("purchase_ts_us"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", _TIGHT_DELAY)
    )
    pairs = views.join(
        purchases,
        on=[
            views.v_user_id == purchases.p_user_id,
            purchases.purchase_time >= views.view_time,
            purchases.purchase_time
            <= views.view_time + F.expr("INTERVAL 30 MINUTES"),
        ],
        how="left_outer",
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_event_id",
        "purchase_event_id",
        (F.col("purchase_ts_us") - F.col("view_ts_us")).alias("gap_us"),
    )
    final = run_available_now(pairs, output_mode="append", shuffle_partitions=4)
    return final.orderBy(
        "user_id", "view_event_id", F.coalesce("purchase_event_id", F.lit(-1))
    )


# ---------------------------------------------------------------------------
# Chained stateful operators — dropDuplicatesWithinWatermark feeding a
# windowed aggregate in ONE streaming query (Spark's multiple-stateful-
# operator support): the production ingest topology where an at-least-once
# source is deduped and aggregated without landing an intermediate table.
# The replay fixture delivers four time-ordered slabs, each followed by a
# redelivery of half of it; the watermark delay (_CHAIN_DELAY_US) exceeds
# one slab's width, so every redelivered row arrives above the watermark
# while its first copy's dedup state is still alive — duplicates are
# removed by STATE, not by late-arrival drop (a delay shorter than the
# slab would make the green hash vacuous).
#
# Append mode only emits windows the final watermark (global max event
# time - delay) has closed, and the watermark is min'd across both
# stateful operators (same column + same delay here, so it equals the
# single-operator value). The oracle replays that arithmetic: deduped
# stream == the events table, windows capped at tmax - delay. State cost
# at 100 TB: dedup state = redelivery horizon x arrival rate; window
# state = horizon x key cardinality — both horizon-bound, never
# corpus-bound.
# ---------------------------------------------------------------------------
_CHAIN_DELAY_US = 9 * 24 * 3_600 * 1_000_000  # 9 days > 30-day span / 4


@_q(
    "streaming_dedup_then_tumbling",
    oracle=f"""
WITH e AS (
  SELECT CAST(EPOCH_US(ts) AS BIGINT) AS ts_us, event_type, value FROM events
),
span AS (SELECT MAX(ts_us) AS tmax FROM e)
SELECT (ts_us // {_HOUR_US}) * {_HOUR_US} AS window_start_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM e, span
WHERE (ts_us // {_HOUR_US}) * {_HOUR_US} + {_HOUR_US} <= tmax - {_CHAIN_DELAY_US}
GROUP BY 1, 2
ORDER BY window_start_us, event_type
""",
)
def streaming_dedup_then_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _chain_batches_dir(spark, sf_dir)
    stream = read_staged_batches_stream(spark, stage)
    deduped = stream.withWatermark(
        "event_time", f"{_CHAIN_DELAY_US // 1_000_000} seconds"
    ).dropDuplicatesWithinWatermark(["event_id"])
    agg = (
        deduped.groupBy(
            F.window("event_time", "1 hour").alias("w"), "event_type"
        )
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
    final = run_available_now(agg, output_mode="append")
    return final.orderBy("window_start_us", "event_type")


@session_memo
def _chain_batches_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the eight-batch chained-stateful fixture once per
    (session, sf_dir): four time-quartile slabs in order, each immediately
    followed by an exact redelivery of its even-event_id half."""
    from aws_glue_data_lake_spark.queries.base import t

    ev = t(spark, sf_dir, "events")
    ts_us = ts_us_col(ev)
    tmin, tmax = ev.agg(F.min(ts_us), F.max(ts_us)).first()
    quartile_us = (tmax - tmin) // 4
    # Dedup-by-state premise: redelivered rows must sit above the watermark
    # (delay > slab width). Append-emission premise: the final watermark
    # must close at least one window (delay < full span). Fail loudly on a
    # fixture that breaks either, instead of silently diverging.
    if not (quartile_us < _CHAIN_DELAY_US < (tmax - tmin)):
        raise AssertionError(
            f"events span unfit for the chained-stateful oracle: need "
            f"quartile width {quartile_us}us < delay {_CHAIN_DELAY_US}us "
            f"< span {tmax - tmin}us; regenerate or widen the fixture"
        )
    banded = ev.withColumn("_us", ts_us).withColumn(
        "_band", F.expr(f"(4 * (_us - {tmin})) div {tmax - tmin + 1}")
    )
    batches = []
    for i in range(4):
        slab = banded.where(F.col("_band") == i).drop("_us", "_band")
        batches.append(slab)
        batches.append(slab.where(F.col("event_id") % 2 == 0))
    return stage_ordered_batches(batches)


# ---------------------------------------------------------------------------
# Streaming SCD2 maintenance — the versioned-dimension twin of
# streaming_cdc_upsert_state: each micro-batch of CDC ops is merged into
# an SCD type-2 lake table via foreachBatch, incrementally. Per batch and
# per affected key: re-open the key's current version as a pseudo-change,
# recompute the LEAD-closed intervals over (open version ∪ batch ops),
# shift version numbers past the key's stored history, and upsert keyed
# on (user_id, version) — the re-closed current version updates IN PLACE
# (same key), new versions insert, deletes close without opening. Batches
# are time-banded, so per-key change order across batches matches the
# batch recomputation and the final table equals cdc_scd2_history's
# oracle exactly.
#
# Scale: per batch the work is O(batch + affected keys' open rows + the
# lake files they live in) — never O(history). The offsets/open-rows
# lookups are keyed joins against a batch-keys-sized side that Spark
# broadcasts; at 100 TB the dimension is file-pruned by the lake layer's
# user_id manifest stats.
# ---------------------------------------------------------------------------
@_q(
    "streaming_scd2_foreachbatch",
    oracle=f"""
WITH feed AS (
  SELECT *, {_OP_CASE_SQL} AS op FROM events
),
chg AS (
  SELECT user_id, event_id, event_type, op,
         CAST(EPOCH_US(ts) AS BIGINT) AS ts_us
  FROM feed
),
led AS (
  SELECT *,
         LEAD(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS valid_to_us
  FROM chg
),
versions AS (
  SELECT user_id, event_id, event_type, ts_us AS valid_from_us, valid_to_us,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) AS version
  FROM led
  WHERE op IS NULL OR op IN ('I', 'U')
)
SELECT user_id, CAST(version AS BIGINT) AS version, event_id, event_type,
       valid_from_us, valid_to_us,
       CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_current
FROM versions
WHERE user_id < 200
ORDER BY user_id, version
""",
)
def streaming_scd2_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.queries.cdc_queries import scd2_history

    stage = _scd2_batches_dir(spark, sf_dir)
    stream = read_staged_batches_stream(spark, stage)
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "purchase", "U")
        .when(F.col("event_type") == "view", "U")
        .otherwise(F.lit(None).cast("string"))
    )
    feed = stream.select(
        "user_id", "event_id", "event_type", op.alias("op"), "ts_us"
    )
    tmp = session_tmpdir("scd2_stream_")
    table = LakeTable(f"{tmp}/dim")
    dim_cols = [
        "user_id", "version", "event_id", "event_type",
        "valid_from_us", "valid_to_us", "is_current",
    ]

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        b = batch
        if b.isEmpty():
            return
        if not table.exists():
            table.create(scd2_history(b).select(*dim_cols), stat_cols=["user_id"])
            return
        bspark = b.sparkSession
        keys = b.select("user_id").distinct()
        # dim (target ⋈ batch keys) feeds four subtrees; caching it was
        # A/B-measured in r15 (3 interleaved isolated runs each way) as
        # neutral-to-worse — the broadcast-join recomputes are cheaper
        # than the eager cache materialization. Left uncached.
        dim = table.read(bspark).join(F.broadcast(keys), "user_id")
        open_rows = dim.where(F.col("is_current") == 1)
        offsets = dim.groupBy("user_id").agg(F.max("version").alias("voff"))
        pseudo = open_rows.select(
            "user_id", "event_id", "event_type",
            F.lit("I").alias("op"),
            F.col("valid_from_us").alias("ts_us"),
        )
        combined = pseudo.unionByName(
            b.select("user_id", "event_id", "event_type", "op", "ts_us")
        )
        had_open = open_rows.select("user_id").withColumn("had_open", F.lit(1))
        adj = (
            scd2_history(combined)
            .join(F.broadcast(offsets), "user_id", "left")
            .join(F.broadcast(had_open), "user_id", "left")
            .withColumn(
                "version",
                F.col("version")
                + F.coalesce(F.col("voff"), F.lit(0))
                - F.coalesce(F.col("had_open"), F.lit(0)),
            )
        )
        table.upsert(adj.select(*dim_cols), keys=["user_id", "version"])

    drain_available_now(
        feed.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", f"{tmp}/chk"
        )
    )
    return (
        table.read(spark)
        .where(F.col("user_id") < 200)
        .select(*dim_cols)
        .orderBy("user_id", "version")
    )


@session_memo
def _scd2_batches_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the CDC feed as four time-band batches (no replays): SCD2
    increments assume per-key change order across batches, and banding by
    ts guarantees it (equal timestamps land in the same band)."""
    from aws_glue_data_lake_spark.queries.base import t

    ev = t(spark, sf_dir, "events")
    ts_us = ts_us_col(ev)
    tmin, tmax = ev.agg(F.min(ts_us), F.max(ts_us)).first()
    banded = ev.withColumn("_us", ts_us).withColumn(
        "_band", F.expr(f"(4 * (_us - {tmin})) div {tmax - tmin + 1}")
    )
    return stage_ordered_batches(
        [banded.where(F.col("_band") == i).drop("_us", "_band") for i in range(4)]
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas — the Spark 4 arbitrary-state API that
# supersedes applyInPandasWithState: typed state handles (ValueState +
# MapState here), a RocksDB-backed store, and (unused here) timers/TTL.
# Drained as SIX genuine micro-batches so both handles round-trip through
# RocksDB across batch boundaries — the green hash certifies cross-batch
# typed-state correctness, not a single-batch replay. Update mode appends
# one running-totals row per key per batch to the memory sink; n_events is
# strictly monotone between a key's emits, so "the row with the max
# n_events per key" is the final state, selected with one small window
# over the users-sized sink table.
#
# Environment seams (protobuf runtime discovery + worker PYTHONPATH
# propagation over sc.environment + scoped RocksDB provider) live in
# streaming/tws.py.
# ---------------------------------------------------------------------------
@_q(
    "streaming_transform_with_state",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum
FROM events
WHERE user_id < 150
GROUP BY user_id
ORDER BY user_id
""",
)
def streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_glue_data_lake_spark.streaming.tws import (
        HAVE_TWS,
        UserTypeStatsProcessor,
        ensure_protobuf_env,
        rocksdb_state_store,
    )

    if not HAVE_TWS or not ensure_protobuf_env(spark):
        raise RuntimeError(
            "transformWithState needs PySpark >= 4.0 and a google.protobuf "
            "runtime (none importable and no on-disk fallback found)"
        )
    stream = read_events_stream(spark, sf_dir, n_files=6, max_files_per_trigger=1)
    # user_id < 150 bounds the GROUP count (one Python state round-trip
    # per key per batch), same reasoning as the applyInPandasWithState twin.
    tws = (
        stream.select("user_id", "event_type", "value")
        .where(F.col("user_id") < 150)
        .groupBy("user_id")
        .transformWithStateInPandas(
            UserTypeStatsProcessor(),
            outputStructType=(
                "user_id BIGINT, n_events BIGINT, n_types BIGINT, "
                "value_sum DOUBLE"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    with rocksdb_state_store(spark):
        final = run_available_now(tws, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        final.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# transformWithState + initialState — the batch→streaming migration seam:
# ValueState is BOOTSTRAPPED from a batch aggregate over history (events
# at or before the time midpoint), then the stream replays only the newer
# half; emitted totals cover rows the stream never saw. Update mode emits
# only keys that received streamed rows, so the oracle filters to users
# with at least one post-midpoint event (HAVING) while aggregating their
# FULL history — the hash match proves the seed and the stream delta
# merged in state, not in the sink.
# ---------------------------------------------------------------------------
@_q(
    "streaming_tws_initial_state",
    oracle="""
WITH p AS (
  SELECT (MIN(CAST(EPOCH_US(ts) AS BIGINT)) + MAX(CAST(EPOCH_US(ts) AS BIGINT))) // 2 AS mid
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum
FROM events, p
WHERE user_id < 150
GROUP BY user_id
HAVING SUM(CASE WHEN CAST(EPOCH_US(ts) AS BIGINT) > mid THEN 1 ELSE 0 END) > 0
ORDER BY user_id
""",
)
def streaming_tws_initial_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.queries.base import t
    from aws_glue_data_lake_spark.streaming.tws import (
        HAVE_TWS,
        SeededUserStatsProcessor,
        ensure_protobuf_env,
        rocksdb_state_store,
    )

    if not HAVE_TWS or not ensure_protobuf_env(spark):
        raise RuntimeError(
            "transformWithState needs PySpark >= 4.0 and a google.protobuf "
            "runtime (none importable and no on-disk fallback found)"
        )
    ev = t(spark, sf_dir, "events")
    us = ts_us_col(ev)
    tmin, tmax = ev.agg(F.min(us), F.max(us)).first()  # scalar split point
    mid = (tmin + tmax) // 2
    # Seed: exact micro-unit aggregate over history (ts <= mid). The
    # decimal cast keeps the seed drift-free; the processor adds streamed
    # micro-units on top.
    seed = (
        ev.withColumn("_us", us)
        .where((F.col("_us") <= mid) & (F.col("user_id") < 150))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)") * F.lit(1_000_000))
            .cast("long")
            .alias("vsum_us"),
        )
    )
    stream = read_events_stream(spark, sf_dir)
    delta = stream.where(
        (F.col("ts_us") > mid) & (F.col("user_id") < 150)
    ).select("user_id", "value")
    tws = delta.groupBy("user_id").transformWithStateInPandas(
        SeededUserStatsProcessor(),
        outputStructType="user_id BIGINT, n_events BIGINT, value_sum DOUBLE",
        outputMode="Update",
        timeMode="None",
        initialState=seed.groupBy("user_id"),
    )
    with rocksdb_state_store(spark):
        final = run_available_now(tws, output_mode="update")
    return final.orderBy("user_id")


# ---------------------------------------------------------------------------
# transformWithState + ListState — an honestly non-mergeable statistic
# (exact median) whose state IS the per-key value list. Six micro-batches
# append to RocksDB list entries (appendList is an O(delta) write); each
# emit re-reads the accumulated list and reports median2_us = lower +
# upper middle in exact int64 micro-units (×2 keeps it integral — no
# cross-engine double rounding to reconcile). Final row per key = max
# n_events, as in the other Update-mode TWS queries.
# ---------------------------------------------------------------------------
@_q(
    "streaming_tws_list_state_median",
    oracle="""
WITH v AS (
  SELECT user_id, CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
  FROM events WHERE user_id < 100
),
o AS (
  SELECT user_id, v_us,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v_us) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM v
)
SELECT user_id,
       CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN idx = n // 2 THEN v_us ELSE 0 END)
          + SUM(CASE WHEN idx = (n - 1) // 2 THEN v_us ELSE 0 END) AS BIGINT)
         AS median2_us
FROM o
GROUP BY user_id
ORDER BY user_id
""",
)
def streaming_tws_list_state_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_glue_data_lake_spark.streaming.tws import (
        HAVE_TWS,
        ListStateMedianProcessor,
        ensure_protobuf_env,
        rocksdb_state_store,
    )

    if not HAVE_TWS or not ensure_protobuf_env(spark):
        raise RuntimeError(
            "transformWithState needs PySpark >= 4.0 and a google.protobuf "
            "runtime (none importable and no on-disk fallback found)"
        )
    stream = read_events_stream(spark, sf_dir, n_files=6, max_files_per_trigger=1)
    tws = (
        stream.select("user_id", "value")
        .where(F.col("user_id") < 100)
        .groupBy("user_id")
        .transformWithStateInPandas(
            ListStateMedianProcessor(),
            outputStructType="user_id BIGINT, n_events BIGINT, median2_us BIGINT",
            outputMode="Update",
            timeMode="None",
        )
    )
    with rocksdb_state_store(spark):
        final = run_available_now(tws, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        final.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# transformWithState + event-time TIMERS: handleInputRows only
# accumulates (and re-arms a watermark+1ms timer, at most one per key via
# listTimers/deleteTimer); ALL emission happens in handleExpiredTimer
# when the watermark clock passes the armed point — so a non-empty result
# is itself proof the timer path fired, including the trailing no-data
# batch that flushes the final timers. Six micro-batches advance the
# watermark stepwise; mid-stream expirations emit running totals that the
# final max-n_events selection supersedes, exactly as in the other
# Update-mode TWS queries.
# ---------------------------------------------------------------------------
@_q(
    "streaming_tws_event_timers",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum
FROM events
WHERE user_id < 60
GROUP BY user_id
ORDER BY user_id
""",
)
def streaming_tws_event_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_glue_data_lake_spark.streaming.tws import (
        HAVE_TWS,
        TimerFlushStatsProcessor,
        ensure_protobuf_env,
        rocksdb_state_store,
    )

    if not HAVE_TWS or not ensure_protobuf_env(spark):
        raise RuntimeError(
            "transformWithState needs PySpark >= 4.0 and a google.protobuf "
            "runtime (none importable and no on-disk fallback found)"
        )
    # Time-BANDED batches (not the hash 6-file split): timers armed at
    # watermark+1 can only ever fire if the watermark keeps advancing, and
    # a hash split delivers the global max ts in batch 1, freezing the
    # watermark for the rest of the replay. Banding by ts makes the
    # watermark step once per batch, so every re-arm expires — and the
    # final expiry (during the last band, after its input is applied)
    # carries the complete totals.
    stream = read_staged_batches_stream(spark, _banded_events_dir(spark, sf_dir, 6))
    tws = (
        stream.withWatermark("event_time", "10 minutes")
        .select("user_id", "event_time", "value")
        .where(F.col("user_id") < 60)
        .groupBy("user_id")
        .transformWithStateInPandas(
            TimerFlushStatsProcessor(),
            outputStructType="user_id BIGINT, n_events BIGINT, value_sum DOUBLE",
            outputMode="Update",
            timeMode="EventTime",
        )
    )
    with rocksdb_state_store(spark):
        final = run_available_now(tws, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        final.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


@session_memo
def _banded_events_dir(spark: SparkSession, sf_dir: str, n_bands: int) -> str:
    """Stage events as ``n_bands`` time-ordered bands (band k holds the
    k-th ts quantile slab), memoized per session — the replay shape whose
    watermark advances at EVERY batch boundary, which event-time timers
    require (see streaming_tws_event_timers)."""
    from aws_glue_data_lake_spark.queries.base import t

    ev = t(spark, sf_dir, "events")
    ts_us = ts_us_col(ev)
    tmin, tmax = ev.agg(F.min(ts_us), F.max(ts_us)).first()
    banded = ev.withColumn("_us", ts_us).withColumn(
        "_band", F.expr(f"({n_bands} * (_us - {tmin})) div {tmax - tmin + 1}")
    )
    return stage_ordered_batches(
        [
            banded.where(F.col("_band") == i).drop("_us", "_band")
            for i in range(n_bands)
        ]
    )


# ---------------------------------------------------------------------------
# Custom STREAMING connector via the Python DataSource API: the same
# synthetic CDC feed read through SimpleDataSourceStreamReader offsets —
# initialOffset / read(start)→(rows, nextOffset) / readBetweenOffsets
# (recovery replay) / commit. The finite feed advances one 4000-row slab
# per micro-batch, so the drain is 5 genuine batches with cross-batch
# aggregate state merge; the oracle regenerates the feed arithmetically.
# availableNow can't pace Python sources (no read-limit hook), so the
# drain is streaming/pipelines.run_drain_all.
# ---------------------------------------------------------------------------
@_q(
    "streaming_python_datasource",
    oracle="""
WITH g AS (
  SELECT UNNEST(generate_series(0, 19999)) AS id
), f AS (""" + __import__("aws_glue_data_lake_spark.pydatasource", fromlist=["FEED_SQL"]).FEED_SQL + """)
SELECT op,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM f
GROUP BY op
ORDER BY op
""",
)
def streaming_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.pydatasource import register_feed_source

    register_feed_source(spark)
    stream = (
        spark.readStream.format("cdc_feed")
        .option("n_rows", 20_000)
        .option("slab", 4_000)
        .load()
    )
    agg = stream.groupBy("op").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("value_sum"),
    )
    final = run_drain_all(agg, output_mode="complete")
    return final.orderBy("op")


# ---------------------------------------------------------------------------
# Custom Python STREAMING SINK closing the connector quadrant (batch
# read / stream read / batch write / stream write): the offset-paced
# cdc_feed stream drains through json_stream_sink, whose per-batch
# commit stamps a batchId marker — redelivered batches are dropped
# wholesale, so at-least-once delivery folds to exactly-once visibility
# (the Python-API mirror of the lake layer's idempotent txn appends).
# The query then reads the COMMITTED files back and aggregates; the
# oracle regenerates the feed arithmetically, so the hash certifies the
# whole source→sink→read-back loop.
# ---------------------------------------------------------------------------
@_q(
    "streaming_python_sink",
    oracle="""
WITH g AS (
  SELECT UNNEST(generate_series(0, 19999)) AS id
), f AS (""" + __import__("aws_glue_data_lake_spark.pydatasource", fromlist=["FEED_SQL"]).FEED_SQL + """)
SELECT op,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(id) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM f
GROUP BY op
ORDER BY op
""",
)
def streaming_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from aws_glue_data_lake_spark.pydatasource import (
        register_feed_source,
        register_stream_sink_source,
    )

    register_feed_source(spark)
    register_stream_sink_source(spark)
    out_dir = os.path.join(session_tmpdir("json_stream_sink_"), uuid.uuid4().hex)
    os.makedirs(out_dir, exist_ok=True)
    stream = (
        spark.readStream.format("cdc_feed")
        .option("n_rows", 20_000)
        .option("slab", 4_000)
        .load()
        .select("id", "op", "value")
    )
    drain_all(
        stream.writeStream.format("json_stream_sink")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .outputMode("append")
    )
    back = spark.read.schema("id BIGINT, op STRING, value DOUBLE").json(
        os.path.join(out_dir, "batch-*.json")
    )
    return (
        back.groupBy("op")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("id").cast("bigint").alias("id_sum"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .orderBy("op")
    )


# ---------------------------------------------------------------------------
# Lake CHANGE-DATA-FEED stream — the lake layer and the Python DataSource
# API composed: four time-banded appends build the table, then a
# streaming query consumes the commit log via the lake_cdf source
# (offsets = snapshot versions, one commit per micro-batch, one executor
# partition per added data file) into a cross-batch aggregate. The final
# totals must equal the table's full content — which the oracle computes
# straight from events — proving the feed delivered every commit's delta
# exactly once. AvailableNow can't pace Python sources, so the drain is
# run_drain_all.
# ---------------------------------------------------------------------------
@_q(
    "streaming_lake_cdf_feed",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def streaming_lake_cdf_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.lake import LakeTable
    from aws_glue_data_lake_spark.lakecdf import register_lake_cdf_source
    from aws_glue_data_lake_spark.queries.base import t as _t

    register_lake_cdf_source(spark)
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "user_id", "event_type", "value", ts_us_col(ev).alias("_us")
    )
    tmin, tmax = e.agg(F.min("_us"), F.max("_us")).first()
    banded = e.withColumn(
        "_band", F.expr(f"(4 * (_us - {tmin})) div {tmax - tmin + 1}")
    )
    table = LakeTable(session_tmpdir("lake_cdf_") + "/t")
    for i in range(4):  # four commits -> four micro-batches in the feed
        band = banded.where(F.col("_band") == i).drop("_us", "_band")
        if i == 0:
            table.create(band.repartition(2))
        else:
            table.append(band)
    feed = (
        spark.readStream.format("lake_cdf")
        .option("path", table.path)
        .load()
    )
    agg = feed.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("value_sum"),
    )
    final = run_drain_all(agg, output_mode="complete")
    return final.orderBy("event_type")


# ---------------------------------------------------------------------------
# DYNAMIC-gap session windows — the gap is an expression of the event, not
# a constant: purchases hold the session open 30 minutes, everything else
# 10 (the "checkout intent keeps the visit alive" convention every product
# analytics stack ships). Spark merges the per-event proposals
# [t, t + gap(e)) whenever the next start falls at or before the running
# session end; the oracle replays exactly that recurrence with a
# running-max window (new session ⇔ ts exceeds MAX(prev ts+gap)), so the
# merge semantics themselves are hash-verified. State per key is bounded
# by the watermark exactly as with a constant gap.
# ---------------------------------------------------------------------------
_DYN_GAP_LONG_US = 1_800_000_000  # purchases: 30 min
_DYN_GAP_SHORT_US = 600_000_000   # everything else: 10 min


@_q(
    "streaming_session_dynamic_gap",
    oracle=f"""
WITH e AS (
  SELECT user_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us,
         CASE WHEN event_type = 'purchase' THEN {_DYN_GAP_LONG_US}
              ELSE {_DYN_GAP_SHORT_US} END AS gap_us,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase
  FROM events
), flagged AS (
  SELECT *,
         CASE WHEN ts_us > MAX(ts_us + gap_us) OVER (
                PARTITION BY user_id ORDER BY ts_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_session
  FROM e
), islands AS (
  SELECT *,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us + gap_us) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(is_purchase) AS BIGINT) AS n_purchases
FROM islands
GROUP BY user_id, session_no
ORDER BY user_id, session_start_us
""",
)
def streaming_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    agg = (
        stream.withWatermark("event_time", "1 hour")
        .groupBy(F.session_window("event_time", gap).alias("w"), "user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_purchases"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "n_purchases",
        )
    )
    final = run_available_now(agg, output_mode="complete")
    return final.orderBy("user_id", "session_start_us")


# ---------------------------------------------------------------------------
# Stream-stream LEFT SEMI join — "which views converted", without paying
# for the pair fan-out: a view is emitted ONCE when its first in-bound
# purchase arrives, then its "already emitted" mark persists in state so a
# second purchase in a later micro-batch cannot re-emit it (the inner
# funnel would emit one row per pair). Same 6-file hash-split replay and
# over-sized watermark as the inner variant — matching semantics are
# what's pinned here; eviction is pinned by the _tight variant. Scale:
# semi-join state is strictly smaller than inner-join state (left rows
# retire at first match instead of waiting out the horizon for more
# pairs), which is why funnels that only need conversion FLAGS should ship
# this shape instead of the inner join.
# ---------------------------------------------------------------------------
@_q(
    "streaming_stream_join_semi",
    oracle=f"""
WITH e AS (
  SELECT event_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us, user_id, event_type
  FROM events
)
SELECT v.user_id, v.event_id AS view_event_id, v.ts_us AS view_ts_us
FROM e v
WHERE v.event_type = 'view' AND EXISTS (
  SELECT 1 FROM e p
  WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
    AND p.ts_us >= v.ts_us AND p.ts_us <= v.ts_us + {_FUNNEL_BOUND_US}
)
ORDER BY user_id, view_event_id
""",
)
def streaming_stream_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.streaming.pipelines import read_events_stream

    stream = read_events_stream(
        spark, sf_dir, n_files=6, max_files_per_trigger=1
    )
    views = (
        stream.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts_us").alias("view_ts_us"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", "40 days")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "40 days")
    )
    converted = views.join(
        purchases,
        on=[
            views.v_user_id == purchases.p_user_id,
            purchases.purchase_time >= views.view_time,
            purchases.purchase_time
            <= views.view_time + F.expr("INTERVAL 30 MINUTES"),
        ],
        how="left_semi",
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_event_id",
        "view_ts_us",
    )
    final = run_available_now(
        converted, output_mode="append", shuffle_partitions=4
    )
    return final.orderBy("user_id", "view_event_id")


# ---------------------------------------------------------------------------
# UPDATE output mode — the third output-mode leg (append and complete are
# pinned by the window/join queries): a running per-type aggregate over a
# time-ordered 4-quartile replay emits, in each micro-batch, ONLY the
# keys whose state changed — so the memory sink accumulates the full
# update HISTORY, one row per (type, quartile-with-arrivals) holding the
# cumulative count/sum at that point. That history is exactly SQL: the
# running window over per-quartile deltas, filtered to quartiles with a
# delta. Exact-decimal running sums make every emitted snapshot
# hash-comparable. Scale: update mode is what a live dashboard sink
# consumes — per-batch output is |changed keys|, not |all keys|.
# ---------------------------------------------------------------------------
@_q(
    "streaming_update_mode_counts",
    oracle="""
WITH e AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
         CAST(EPOCH_US(ts) AS BIGINT) AS ts_us
  FROM events
),
span AS (SELECT MIN(ts_us) AS tmin, MAX(ts_us) AS tmax FROM e),
banded AS (
  SELECT e.*, (4 * (ts_us - tmin)) // (tmax - tmin + 1) AS band FROM e, span
),
per_band AS (
  SELECT event_type, band,
         CAST(COUNT(*) AS BIGINT) AS dn, SUM(v) AS dv
  FROM banded GROUP BY 1, 2
)
SELECT event_type,
       CAST(SUM(dn) OVER w AS BIGINT) AS n_events,
       CAST(SUM(dv) OVER w AS DOUBLE) AS value_sum
FROM per_band
WINDOW w AS (PARTITION BY event_type ORDER BY band)
ORDER BY event_type, n_events
""",
)
def streaming_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.queries.base import t as t_

    ev = t_(spark, sf_dir, "events")
    us = ts_us_col(ev)
    lo, hi = ev.agg(F.min(us), F.max(us)).first()
    band = (F.lit(4) * (us - F.lit(lo))) / F.lit(hi - lo + 1)
    batches = [
        ev.where(band.cast("bigint") == i) for i in range(4)
    ]
    stage = stage_ordered_batches(batches)
    stream = read_staged_batches_stream(spark, stage)
    running = stream.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("value_sum"),
    )
    final = run_available_now(running, output_mode="update")
    return final.orderBy("event_type", "n_events")


# ---------------------------------------------------------------------------
# ONE stream, TWO sinks, exactly-once on both — the medallion fan-out
# (bronze raw + silver aggregate) done correctly: a single foreachBatch
# writes the raw rows to one lake table and the per-type running deltas
# to another, BOTH through append_stream_batch with the same
# (writer, batch_id) txn — so when a batch is redelivered (simulated
# here by re-appending batch 0's payload after the drain), each table
# independently detects the replay and no-ops.
# Final state of BOTH tables is hash-verified: raw equals the fixture,
# aggregate equals the grouped oracle — the cross-table consistency a
# dashboard reading silver against bronze depends on.
# ---------------------------------------------------------------------------
@_q(
    "streaming_two_sink_medallion",
    oracle="""
WITH agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
  FROM events GROUP BY event_type
),
raw AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
  FROM events
)
SELECT event_type, n_events, value_sum FROM agg
UNION ALL
SELECT '_raw_total', n_events, value_sum FROM raw
ORDER BY event_type
""",
)
def streaming_two_sink_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(
        spark, sf_dir, n_files=6, max_files_per_trigger=1
    )
    tmp = session_tmpdir("two_sink_")
    bronze = LakeTable(f"{tmp}/bronze")
    silver = LakeTable(f"{tmp}/silver")

    def fan_out(batch: DataFrame, batch_id: int) -> None:
        raw = batch.select("event_id", "user_id", "event_type", "value")
        delta = raw.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        # bronze and silver are independent tables — their per-batch
        # appends overlap (guide §2.6); one thread per table
        def _sink_to(table, df):
            if not table.exists():
                # empty CTAS pins the schema so batch 0 goes through the
                # same idempotent append path as every other batch
                table.create(df.limit(0))
            table.append_stream_batch(
                df, writer_id="medallion", batch_id=batch_id
            )

        run_jobs(
            *[
                lambda tb=table, d=df: _sink_to(tb, d)
                for table, df in ((bronze, raw), (silver, delta))
            ]
        )

    drain_available_now(
        stream.writeStream.foreachBatch(fan_out).option(
            "checkpointLocation", f"{tmp}/chk"
        )
    )
    # at-least-once simulation: redeliver the FIRST batch's payload with
    # its original batch_id — both tables must detect the replay and no-op
    replay = bronze.read(spark).limit(50)
    assert bronze.append_stream_batch(replay, writer_id="medallion", batch_id=0) is None
    assert silver.append_stream_batch(replay.groupBy("event_type").count().withColumnRenamed("count", "n_events").withColumn("value_sum", F.lit(0.0)), writer_id="medallion", batch_id=0) is None
    agg = (
        silver.read(spark)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum(F.col("value_sum").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
    )
    raw_total = bronze.read(spark).agg(
        F.lit("_raw_total").alias("event_type"),
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("value_sum"),
    )
    return agg.unionByName(raw_total).orderBy("event_type")


# ---------------------------------------------------------------------------
# Dead-letter-queue ingest — the quarantine pattern every production
# stream ships instead of crash-on-bad-row: each micro-batch splits on a
# validity predicate (here the CDC contract: op must be NULL/I/U/D and
# value non-negative for purchases), good rows land in the main table and
# violations in a DLQ table WITH the failure reason — both through
# idempotent per-batch txns, so a redelivered batch duplicates neither
# side. The final hash certifies conservation (main + dlq = input), the
# reason histogram, and that the main table holds only valid rows.
# ---------------------------------------------------------------------------
@_q(
    "streaming_dlq_quarantine",
    oracle=f"""
WITH feed AS (
  SELECT event_id, user_id, event_type, value,
         {_OP_CASE_SQL} AS op,
         CASE WHEN event_id % 97 = 0 THEN 'X'
              ELSE {_OP_CASE_SQL} END AS op_wire
  FROM events
),
classified AS (
  SELECT *,
         CASE
           WHEN op_wire IS NOT NULL AND op_wire NOT IN ('I','U','D')
             THEN 'bad_op'
           WHEN event_type = 'purchase' AND value < 0.5 THEN 'low_value'
           ELSE NULL END AS reject_reason
  FROM feed
)
SELECT * FROM (
  SELECT 'main' AS sink, CAST(NULL AS VARCHAR) AS reason,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
  FROM classified WHERE reject_reason IS NULL
  UNION ALL
  SELECT 'dlq', reject_reason, CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
  FROM classified WHERE reject_reason IS NOT NULL
  GROUP BY reject_reason
) ORDER BY sink, reason NULLS FIRST
""",
)
def streaming_dlq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(
        spark, sf_dir, n_files=6, max_files_per_trigger=1
    )
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "purchase", "U")
        .when(F.col("event_type") == "view", "U")
        .otherwise(F.lit(None).cast("string"))
    )
    # wire-level corruption: every 97th event carries an unknown op tag
    op_wire = F.when(F.col("event_id") % 97 == 0, "X").otherwise(op)
    feed = stream.select(
        "event_id", "user_id", "event_type", "value",
        op_wire.alias("op_wire"),
    )
    tmp = session_tmpdir("dlq_")
    main = LakeTable(f"{tmp}/main")
    dlq = LakeTable(f"{tmp}/dlq")

    def route(batch: DataFrame, batch_id: int) -> None:
        reason = (
            F.when(
                F.col("op_wire").isNotNull()
                & ~F.col("op_wire").isin("I", "U", "D"),
                "bad_op",
            )
            .when(
                (F.col("event_type") == "purchase") & (F.col("value") < 0.5),
                "low_value",
            )
            .otherwise(F.lit(None).cast("string"))
        )
        classified = batch.withColumn("reject_reason", reason)
        good = classified.where(F.col("reject_reason").isNull()).drop(
            "reject_reason"
        )
        bad = classified.where(F.col("reject_reason").isNotNull())

        # main and dlq are independent tables — their per-batch appends
        # overlap (guide §2.6); each table is touched by one thread only
        def _route_to(table, df):
            if not table.exists():
                table.create(df.limit(0))
            table.append_stream_batch(
                df, writer_id="dlq_route", batch_id=batch_id
            )

        run_jobs(
            *[
                lambda tb=table, d=df: _route_to(tb, d)
                for table, df in ((main, good), (dlq, bad))
            ]
        )

    drain_available_now(
        feed.writeStream.foreachBatch(route).option(
            "checkpointLocation", f"{tmp}/chk"
        )
    )
    main_row = main.read(spark).agg(
        F.lit("main").alias("sink"),
        F.lit(None).cast("string").alias("reason"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("value_sum"),
    )
    dlq_rows = (
        dlq.read(spark)
        .groupBy(F.col("reject_reason").alias("reason"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(F.lit("dlq").alias("sink"), "reason", "n_rows", "value_sum")
    )
    return main_row.unionByName(dlq_rows).orderBy(
        "sink", F.asc_nulls_first("reason")
    )


# ---------------------------------------------------------------------------
# CDF source admission control (round-10, VERDICT r9 item 5): ONE
# oversized commit (8 staged files) consumed under maxFilesPerTrigger=2
# must SPLIT across >=3 micro-batches — the in-query assertion — while
# the replayed feed still reconstructs the table exactly: the final
# aggregate equals the oracle computed straight from orders. Offsets
# carry sub-commit file positions ({"version": V, "file": K}), so a
# restart mid-commit resumes exactly (pinned by tests/test_streaming.py);
# at 100 TB this is what keeps a 10k-file backfill from becoming one
# 10k-task micro-batch holding the whole load's state.
# ---------------------------------------------------------------------------
@_q(
    "streaming_cdf_rate_limited",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
WHERE o_orderkey % 3 = 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def streaming_cdf_rate_limited(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from aws_glue_data_lake_spark.lake import LakeTable
    from aws_glue_data_lake_spark.lakecdf import register_lake_cdf_source
    from aws_glue_data_lake_spark.queries.base import t as _t

    register_lake_cdf_source(spark)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).where(F.col("o_orderkey") % 3 == 0)
    table = LakeTable(session_tmpdir("cdf_rate_") + "/t")
    table.create(o.repartition(8))  # ONE commit, 8 files: the backfill
    out = session_tmpdir("cdf_rate_out_") + "/rows"
    batch_rows: list[int] = []

    def sink(df, _bid):
        # cache for the drain: count + write would otherwise each run
        # the Python-datasource CDF scan (guide §5 — reuse > recompute)
        df = df.persist()
        try:
            n = df.count()
            if n:
                batch_rows.append(n)
                df.write.mode("append").parquet(out)
        finally:
            df.unpersist()

    feed = (
        spark.readStream.format("lake_cdf")
        .option("path", table.path)
        .option("maxFilesPerTrigger", "2")
        .load()
    )
    drain_all(  # bounded catch-up to the pinned tip
        feed.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", session_tmpdir("cdf_rate_ck_") + "/ck"
        )
        .outputMode("append")
    )
    # the limiter's contract: the 8-file commit split across batches
    assert len(batch_rows) >= 3, batch_rows
    total = o.count()
    assert sum(batch_rows) == total, (batch_rows, total)
    return (
        spark.read.parquet(out)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("o_orderpriority")
    )
