"""Window-function queries (SURVEY.md §2.6-§2.7).

The reference's single window is ``row_number() over (partition by pk
order by dt desc)`` (icberg/iceberg_tables.py:39-44); the engine surface
adds rank/dense_rank/lag/lead and aggregates over frames. Every ORDER BY
inside a window carries a unique tiebreaker (SURVEY.md §2.4 risk: ties are
nondeterministic under row_number).

Scale note: each distinct partitionBy key-set costs one hash-partition
exchange; queries below share the partitioning across functions in the
same window spec so Catalyst plans a single exchange per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_glue_data_lake_spark.queries.base import Registry, t
from aws_glue_data_lake_spark.session import session_memo
from aws_glue_data_lake_spark.tables import ts_us_col, with_ts_us

REGISTRY = Registry()
_q = REGISTRY.query


# The flagship (SURVEY.md §7 Phase 1): latest event per user (W1+P4) joined
# to a per-user aggregate (A1 generalized to groups). Exercises the
# reference's signature dedup pattern on the events stream stand-in.
@_q(
    "flagship_latest_event_per_user",
    # Engine convention: events.ts is normalized to int64 epoch-MICROseconds
    # by inspected dtype (tables.ts_us_col) — matching DuckDB's EPOCH_US on
    # any producer's physical type; ties break on event_id.
    oracle="""
WITH ranked AS (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), agg AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS total_value
  FROM events
  GROUP BY user_id
)
SELECT r.user_id,
       r.event_id AS last_event_id,
       CAST(EPOCH_US(r.ts) AS BIGINT) AS last_ts,
       r.event_type AS last_event_type,
       a.n_events,
       a.total_value
FROM ranked r
JOIN agg a ON r.user_id = a.user_id
WHERE r.rn = 1
ORDER BY r.user_id
""",
)
def flagship_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_ts_us(t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
        )
    )
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )
    return latest.join(agg, "user_id").orderBy("user_id")


@_q(
    "window_rank_orders_per_customer",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
         DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_dense_rank,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(price_rank AS BIGINT) AS price_rank,
       CAST(price_dense_rank AS BIGINT) AS price_dense_rank
FROM ranked
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def window_rank_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).cast("bigint").alias("price_rank"),
            F.dense_rank().over(w).cast("bigint").alias("price_dense_rank"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("o_custkey", F.col("o_totalprice").desc(), "o_orderkey")
    )


@_q(
    "window_lag_lead_order_gaps",
    oracle="""
WITH seq AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         LAG(o_orderdate)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_date
  FROM orders
  WHERE o_custkey < 1000
)
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(DATEDIFF('day', prev_date, o_orderdate) AS INT) AS days_since_prev,
       CAST(DATEDIFF('day', o_orderdate, next_date) AS INT) AS days_until_next
FROM seq
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
)
def window_lag_lead_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # custkey < 1000 bounds the result; filtering on the PARTITION BY key
    # commutes with the window and pushes below it into the parquet scan.
    o = t(spark, sf_dir, "orders").where(F.col("o_custkey") < 1000)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.lag("o_orderdate").over(w).alias("prev_date"),
            F.lead("o_orderdate").over(w).alias("next_date"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.datediff(F.col("o_orderdate"), F.col("prev_date"))
            .cast("int")
            .alias("days_since_prev"),
            F.datediff(F.col("next_date"), F.col("o_orderdate"))
            .cast("int")
            .alias("days_until_next"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# Aggregate-over-frame: running total + trailing-3 moving average. The
# frame is ROWS-based so both engines sum the same elements in the same
# order; exact decimal running sums keep the hash comparable.
@_q(
    "window_running_and_moving",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) /
         COUNT(*) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg_3
FROM orders
WHERE o_custkey < 1000
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
)
def window_running_and_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded like window_lag_lead_order_gaps: partition-key filter commutes
    # with the window and reaches the scan.
    o = t(spark, sf_dir, "orders").where(F.col("o_custkey") < 1000)
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trailing = order_w.rowsBetween(-2, Window.currentRow)
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec).over(running).cast("double").alias("running_spend"),
        F.round(
            F.sum(dec).over(trailing).cast("double") / F.count("*").over(trailing), 6
        ).alias("moving_avg_3"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@session_memo
def _ranged_spend(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[int, int], int]:
    """(persisted range-partitioned customer spend, pid → rank offset of
    the partition's first row, total rows)."""
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_spend")
    )
    ranged = spend.repartitionByRange(
        spark.sparkContext.defaultParallelism,
        F.col("total_spend").desc(),
        F.col("o_custkey"),
    ).withColumn("pid", F.spark_partition_id()).persist()
    counts = sorted(
        (r["pid"], r["c"])
        for r in ranged.groupBy("pid").agg(F.count("*").alias("c")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    return ranged, offsets, acc


@_q(
    "window_ntile_customer_value",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 6))) AS DOUBLE) AS total_spend
  FROM orders
  GROUP BY o_custkey
)
SELECT o_custkey, total_spend,
       CAST(NTILE(4) OVER (ORDER BY total_spend DESC, o_custkey) AS INT) AS spend_quartile
FROM spend
ORDER BY o_custkey
""",
)
def window_ntile_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global NTILE without the global window: ``Window.orderBy`` with no
    partitionBy funnels every row through ONE task (the WindowExec
    single-partition warning) — fatal at 100×. Instead: distributed
    rank = range-repartition on the sort key, per-partition row_number
    (window keyed on partition id — parallel), plus per-partition row-count
    offsets collected to the driver (|offsets| = #partitions, metadata not
    data, same class as the BSP convergence probe). The quartile then
    follows from NTILE's exact rank arithmetic, so the oracle keeps plain
    NTILE(4) and still hash-matches, ties included (the sort carries the
    unique o_custkey tiebreaker)."""
    ranged, offsets, n_total = _ranged_spend(spark, sf_dir)
    quarter, rem = divmod(n_total, 4)
    ends = [k * quarter + min(k, rem) for k in (1, 2, 3)]
    off = F.create_map(
        *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
    ) if offsets else F.create_map()
    local_w = Window.partitionBy("pid").orderBy(
        F.col("total_spend").desc(), F.col("o_custkey")
    )
    rank = F.element_at(off, F.col("pid")) + F.row_number().over(local_w)
    quartile = (
        F.when(rank <= ends[0], 1)
        .when(rank <= ends[1], 2)
        .when(rank <= ends[2], 3)
        .otherwise(4)
        if n_total
        else F.lit(1)
    )
    return ranged.select(
        "o_custkey",
        "total_spend",
        quartile.cast("int").alias("spend_quartile"),
    ).orderBy("o_custkey")


# --------------------------------------------------------------------------
# Analytic rank family: dense_rank / percent_rank / cume_dist over order
# value within priority. Output is the p99 tail (deterministic: unique
# orderkey tiebreaker everywhere) so the result stays bounded at any scale.
# --------------------------------------------------------------------------
@_q(
    "window_dense_percent_cume",
    oracle="""
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(DENSE_RANK() OVER w AS BIGINT) AS price_dense_rank,
         ROUND(PERCENT_RANK() OVER w, 6) AS price_percent_rank,
         ROUND(CUME_DIST() OVER w, 6) AS price_cume_dist
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
)
SELECT * FROM ranked
WHERE price_percent_rank >= 0.99
ORDER BY o_orderpriority, o_totalprice, o_orderkey
""",
)
def window_dense_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.dense_rank().over(w).cast("bigint").alias("price_dense_rank"),
            F.round(F.percent_rank().over(w), 6).alias("price_percent_rank"),
            F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
        )
        .where(F.col("price_percent_rank") >= 0.99)
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    )


# --------------------------------------------------------------------------
# RANGE frame: 30-day trailing spend per customer — a *value-based* frame
# (rangeBetween on days-since-epoch), not a row-count frame; rows with no
# orders in the trailing month contribute only themselves. Restricted to
# custkey < 100 to bound output; the window itself scales (one shuffle on
# o_custkey, frames evaluated by an ordered scan within each partition).
# --------------------------------------------------------------------------
@_q(
    "window_range_frame_trailing_spend",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(DATEDIFF('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) AS BIGINT)
         AS order_day,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
         PARTITION BY o_custkey
         ORDER BY CAST(DATEDIFF('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) AS BIGINT)
         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d_spend
FROM orders
WHERE o_custkey < 100
ORDER BY o_custkey, order_day, o_orderkey
""",
)
def window_range_frame_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("order_day"))
        .rangeBetween(-30, Window.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            day.alias("order_day"),
            F.col("o_totalprice").cast("decimal(18,6)").alias("_price"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            "order_day",
            F.sum("_price").over(w).cast("double").alias("trailing_30d_spend"),
        )
        .orderBy("o_custkey", "order_day", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Top-k-per-group: the reference's W1+P4 keep-first generalized to k=3
# (SURVEY.md §2.7) — top-3 orders per customer by price. The rank filter
# prunes before any downstream join/sort; only k rows per key survive the
# window exchange.
# --------------------------------------------------------------------------
@_q(
    "window_top3_orders_per_customer",
    oracle="""
SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
WHERE rnk <= 3 AND o_custkey < 100
ORDER BY o_custkey, rnk
""",
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
        .where((F.col("rnk") <= 3) & (F.col("o_custkey") < 100))
        .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rnk")
    )


# --------------------------------------------------------------------------
# first_value / last_value / nth_value over the full partition frame: each
# order row carries its customer's first, latest, and second order — the
# navigation-function family the rank/lag queries don't touch. last_value
# and nth_value need the UNBOUNDED FOLLOWING frame (the default frame stops
# at CURRENT ROW, the classic silent-wrong-answer); ordering carries the
# orderkey tiebreaker so both engines pick identical rows.
# --------------------------------------------------------------------------
@_q(
    "window_first_last_nth",
    oracle="""
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
       LAST_VALUE(o_orderkey) OVER w AS last_orderkey,
       NTH_VALUE(o_orderkey, 2) OVER w AS second_orderkey
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, o_orderkey
""",
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_orderkey"),
            F.last("o_orderkey").over(w).alias("last_orderkey"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_orderkey"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Batch gap-sessionization — the canonical lag + cumulative-sum pattern:
# a new session starts where the gap since the user's previous event
# exceeds 30 minutes; session_id is the running count of session starts.
# This is the BATCH twin of streaming_session_windows (same 30-minute gap
# semantics, computed retrospectively): one shuffle partitions by
# user_id, both window passes (lag, running sum) reuse that partitioning,
# and the per-session aggregate re-shuffles only (user_id, session_id).
# Reported per user (user_id < 200 bounds the output, not the compute):
# session count, events, and exact total in-session dwell time.
# --------------------------------------------------------------------------
_SESSION_GAP_US = 30 * 60 * 1_000_000


@_q(
    "window_gap_sessionization",
    oracle=f"""
WITH e AS (
  SELECT user_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us, event_id
  FROM events WHERE user_id < 200
),
flagged AS (
  SELECT user_id, ts_us, event_id,
         CASE WHEN ts_us - LAG(ts_us) OVER w > {_SESSION_GAP_US}
               OR LAG(ts_us) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sessions AS (
  SELECT user_id, ts_us,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id,
         COUNT(*) AS n_events,
         MAX(ts_us) - MIN(ts_us) AS dwell_us
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events,
       CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us
FROM per_session
GROUP BY user_id
ORDER BY user_id
""",
)
def window_gap_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        with_ts_us(t(spark, sf_dir, "events"))  # normalizes `ts` to epoch-µs
        .where(F.col("user_id") < 200)
        .withColumnRenamed("ts", "ts_us")
    )
    # ts ties broken by event_id so LAG sees the identical order on both
    # engines (ts_us alone can repeat within a user).
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = F.lag("ts_us").over(w)
    flagged = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        (
            prev.isNull()
            | ((F.col("ts_us") - prev) > _SESSION_GAP_US)
        )
        .cast("long")
        .alias("is_start"),
    )
    sessions = flagged.select(
        "user_id", "ts_us", F.sum("is_start").over(run).alias("session_id")
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("dwell_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.max("n_events").cast("bigint").alias("max_session_events"),
            F.sum("dwell_us").cast("bigint").alias("total_dwell_us"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Batch conversion funnel — the product-analytics staple: how many users
# progress view -> click -> purchase, where each stage must happen STRICTLY
# AFTER the user's entry into the previous stage (first-touch attribution).
# Sequential dependency = per-stage MIN over the events that postdate the
# previous stage's timestamp, so each stage is one keyed aggregate plus one
# user_id-keyed join against the (|users|-sized, events-sized NOT) stage
# table from the step before. At 100 TB: three shuffles on user_id that AQE
# coalesces, never an event×event self-join; the per-user stage table is
# |users| rows, orders of magnitude under the event count.
# --------------------------------------------------------------------------
@_q(
    "funnel_user_conversion",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us FROM events
),
v AS (
  SELECT user_id, MIN(ts_us) AS v_ts FROM e WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts_us) AS c_ts
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts_us > v.v_ts
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts_us) AS p_ts
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts_us > c.c_ts
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS stage, 'view' AS stage_name,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(0 AS BIGINT) AS total_delay_us
  FROM v
  UNION ALL
  SELECT 2, 'click', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(c.c_ts - v.v_ts) AS BIGINT)
  FROM c JOIN v ON c.user_id = v.user_id
  UNION ALL
  SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(p.p_ts - c.c_ts) AS BIGINT)
  FROM p JOIN c ON p.user_id = c.user_id
) ORDER BY stage
""",
)
def funnel_user_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_ts_us(t(spark, sf_dir, "events")).withColumnRenamed("ts", "ts_us")
    e = ev.select("user_id", "event_type", "ts_us")

    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("v_ts"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_us") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c_ts"), F.first("v_ts").alias("v_ts"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c.select("user_id", "c_ts"), "user_id")
        .where(F.col("ts_us") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_ts"), F.first("c_ts").alias("c_ts"))
    )

    s1 = v.agg(
        F.lit(1).alias("stage"),
        F.lit("view").alias("stage_name"),
        F.count("*").cast("bigint").alias("n_users"),
        F.lit(0).cast("bigint").alias("total_delay_us"),
    )
    s2 = c.agg(
        F.lit(2).alias("stage"),
        F.lit("click").alias("stage_name"),
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.col("c_ts") - F.col("v_ts")).cast("bigint").alias("total_delay_us"),
    )
    s3 = p.agg(
        F.lit(3).alias("stage"),
        F.lit("purchase").alias("stage_name"),
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.col("p_ts") - F.col("c_ts")).cast("bigint").alias("total_delay_us"),
    )
    return s1.unionAll(s2).unionAll(s3).orderBy("stage")


# --------------------------------------------------------------------------
# Weekly cohort retention — the other analyst staple: bucket users by
# first-seen week (their cohort), then count how many are still active k
# weeks later. Weeks are epoch-µs integer division (no calendar functions:
# identical arithmetic on both engines). Plan shape: one user_id aggregate
# for first-seen, one user_id-keyed join back to events (the first-seen
# side is |users| rows — at cluster scale a shuffle join keyed on user_id,
# which AQE will broadcast when |users| fits), then a (cohort, offset)
# aggregate whose output is weeks x weeks — tiny regardless of data scale.
# Retention rate divides by the cohort's offset-0 size via a window over
# the tiny aggregate, not another pass over events.
# --------------------------------------------------------------------------
_WEEK_US = 7 * 24 * 3_600 * 1_000_000


@_q(
    "cohort_weekly_retention",
    oracle=f"""
WITH e AS (
  SELECT user_id, CAST(EPOCH_US(ts) AS BIGINT) // {_WEEK_US} AS week FROM events
),
first_seen AS (
  SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id
),
activity AS (
  SELECT f.cohort_week, e.week - f.cohort_week AS week_offset,
         COUNT(DISTINCT e.user_id) AS n_active
  FROM e JOIN first_seen f ON e.user_id = f.user_id
  GROUP BY f.cohort_week, e.week - f.cohort_week
)
SELECT cohort_week, week_offset, CAST(n_active AS BIGINT) AS n_active,
       ROUND(CAST(n_active AS DOUBLE) / MAX(CASE WHEN week_offset = 0
             THEN n_active END) OVER (PARTITION BY cohort_week), 6)
         AS retention
FROM activity
ORDER BY cohort_week, week_offset
""",
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_ts_us(t(spark, sf_dir, "events")).withColumnRenamed("ts", "ts_us")
    # Integer division (not float-divide-then-cast): ts_us sits near 2^51
    # where double division is still exact, but `div` keeps it provably so.
    e = ev.select(
        "user_id", F.expr(f"ts_us div {_WEEK_US}").alias("week")
    )
    first_seen = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        e.join(first_seen, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )
    base = Window.partitionBy("cohort_week")
    cohort_size = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(base)
    return activity.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(F.col("n_active").cast("double") / cohort_size, 6).alias("retention"),
    ).orderBy("cohort_week", "week_offset")


# --------------------------------------------------------------------------
# Trailing-window anomaly detection — the streaming-adjacent monitoring
# shape, batch form: each event's value is z-scored against the PRECEDING
# _ZWIN events of the same type (frame excludes the current row, so the
# anomaly can't suppress itself), flagged when (v-mean)^2 > 9*var with at
# least _ZMIN prior points. Mean/variance derive from exact DECIMAL power
# sums over the frame (the agg_stats_moments recipe) and the flag
# comparison is written with the identical expression tree on both
# engines, so the boolean is bit-stable. One shuffle on event_type; the
# frame reuses it. Output is per-type counts — dimension-sized at any
# scale.
# --------------------------------------------------------------------------
_ZWIN = 200
_ZMIN = 50


@_q(
    "window_trailing_zscore_anomalies",
    oracle=f"""
WITH e AS (
  SELECT event_id, event_type, value,
         CAST(EPOCH_US(ts) AS BIGINT) AS ts_us
  FROM events
),
framed AS (
  SELECT event_type, value,
         COUNT(*) OVER w AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
              OVER w AS DOUBLE) AS s2
  FROM e
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
               ROWS BETWEEN {_ZWIN} PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT event_type,
         CASE WHEN cnt >= {_ZMIN} THEN 1 ELSE 0 END AS scored,
         CASE WHEN cnt >= {_ZMIN}
               AND (value - s1 / cnt) * (value - s1 / cnt)
                   > 9 * ((s2 - s1 * s1 / cnt) / (cnt - 1))
              THEN 1 ELSE 0 END AS is_anomaly,
         CASE WHEN cnt >= {_ZMIN}
               AND (value - s1 / cnt) * (value - s1 / cnt)
                   > 9 * ((s2 - s1 * s1 / cnt) / (cnt - 1))
              THEN value END AS anom_value
  FROM framed
)
SELECT event_type,
       CAST(SUM(scored) AS BIGINT) AS n_scored,
       CAST(SUM(is_anomaly) AS BIGINT) AS n_anomalies,
       CAST(SUM(CAST(anom_value AS DECIMAL(18,6))) AS DOUBLE) AS anomaly_value_sum
FROM scored
GROUP BY event_type
ORDER BY event_type
""",
)
def window_trailing_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_ts_us(t(spark, sf_dir, "events")).withColumnRenamed("ts", "ts_us")
    # Spark evaluates a bounded sliding ROWS frame by RE-AGGREGATING the
    # whole frame for every row (SlidingWindowFunctionFrame has no
    # retract path) — O(rows × _ZWIN) decimal ops, measured 2.9 s vs
    # 0.7 s for the same pass without the sliding sums. Running
    # (unbounded-preceding) frames ARE incremental, so compute exact
    # decimal prefix sums once and take lag differences:
    #   sum over [i-200, i-1]  =  P(i-1) − P(i-201)
    # Decimal adds/subtracts are exact, so the frame sums (and the
    # doubles they cast to) are bit-identical to the direct frame — the
    # oracle keeps the frame formulation. Precision envelope: the PREFIX
    # must fit the sum type (decimal(28,6) / decimal(38,12)), i.e. 10^22
    # value-mass per event_type — comfortably beyond the corpus bounds
    # this query pins; the frame sums themselves are 200 values.
    run = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    order_w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    dec = F.col("value").cast("decimal(18,6)")
    pre = ev.select(
        "event_type",
        "value",
        "ts_us",
        "event_id",
        F.row_number().over(order_w).alias("rn"),
        F.sum(dec).over(run).alias("p1"),
        F.sum(dec * dec).over(run).alias("p2"),
    )

    def frame_sum(p: str) -> Column:
        # NULL on an empty frame (rn == 1), exactly like SUM over the
        # empty sliding frame — also keeps ANSI mode's 0/0 check away
        # from the cnt==0 rows the _ZMIN gate discards anyway.
        z = F.lit(0).cast(pre.schema[p].dataType)
        diff = F.coalesce(F.lag(p, 1).over(order_w), z) - F.coalesce(
            F.lag(p, _ZWIN + 1).over(order_w), z
        )
        return F.when(F.col("rn") > 1, diff)

    framed = pre.select(
        "event_type",
        "value",
        F.least(F.col("rn") - 1, F.lit(_ZWIN)).cast("bigint").alias("cnt"),
        frame_sum("p1").cast("double").alias("s1"),
        frame_sum("p2").cast("double").alias("s2"),
    )
    cnt, s1, s2, v = (F.col(c) for c in ("cnt", "s1", "s2", "value"))
    dev2 = (v - s1 / cnt) * (v - s1 / cnt)
    var = (s2 - s1 * s1 / cnt) / (cnt - 1)
    enough = cnt >= _ZMIN
    is_anom = enough & (dev2 > 9 * var)
    scored = framed.select(
        "event_type",
        enough.cast("int").alias("scored"),
        is_anom.cast("int").alias("is_anomaly"),
        F.when(is_anom, v).alias("anom_value"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.sum("scored").cast("bigint").alias("n_scored"),
            F.sum("is_anomaly").cast("bigint").alias("n_anomalies"),
            F.sum(F.col("anom_value").cast("decimal(18,6)"))
            .cast("double")
            .alias("anomaly_value_sum"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Multi-touch LINEAR attribution — the ad-analytics counterpart of the
# first-touch funnel: each purchase's value is split EQUALLY across that
# user's view events in the preceding hour (inclusive of ties at the
# purchase instant? no — strictly before), then credit rolls up per view
# hour. The candidate join is user-keyed + time-banded, so it shuffles on
# user_id and never goes cartesian: at 100 TB this is the same bounded
# range-join family as join_range_event_order_window. Purchases with no
# preceding view keep their mass in an explicit 'unattributed' bucket so
# the credit ledger always sums to total purchase value (conservation is
# part of the contract the hash checks).
# ---------------------------------------------------------------------------
_ATTR_WINDOW_US = 3_600_000_000  # 1 hour


@_q(
    "window_attribution_linear",
    oracle=f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         CAST(EPOCH_US(ts) AS BIGINT) AS us
  FROM events
),
p AS (SELECT * FROM e WHERE event_type = 'purchase'),
v AS (SELECT * FROM e WHERE event_type = 'view'),
cand AS (
  SELECT p.event_id AS p_id, p.value AS p_value, p.user_id,
         v.event_id AS v_id, v.us AS v_us
  FROM p JOIN v
    ON v.user_id = p.user_id
   AND v.us < p.us AND v.us >= p.us - {_ATTR_WINDOW_US}
),
split AS (
  SELECT p_id, v_id, v_us,
         CAST(CAST(p_value AS DECIMAL(18,6))
              / COUNT(*) OVER (PARTITION BY p_id) AS DECIMAL(28,12)) AS credit
  FROM cand
),
attributed AS (
  SELECT CAST(v_us // 3600000000 AS BIGINT) AS view_hour,
         CAST(COUNT(*) AS BIGINT) AS n_credits,
         ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS credit_sum
  FROM split GROUP BY 1
),
unattributed AS (
  SELECT CAST(-1 AS BIGINT) AS view_hour,
         CAST(COUNT(*) AS BIGINT) AS n_credits,
         ROUND(CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS credit_sum
  FROM p
  WHERE NOT EXISTS (SELECT 1 FROM cand c WHERE c.p_id = p.event_id)
)
SELECT * FROM attributed
UNION ALL
SELECT * FROM unattributed WHERE n_credits > 0
ORDER BY view_hour
""",
)
def window_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "user_id", "event_type", "value", ts_us_col(ev).alias("us")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id"),
        F.col("value").alias("p_value"),
        F.col("us").alias("p_us"),
    )
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("v_id"), F.col("us").alias("v_us")
    )
    cand = p.join(v, "user_id").where(
        (F.col("v_us") < F.col("p_us"))
        & (F.col("v_us") >= F.col("p_us") - _ATTR_WINDOW_US)
    )
    w = Window.partitionBy("p_id")
    split = cand.select(
        "p_id",
        "v_id",
        "v_us",
        (F.col("p_value").cast("decimal(18,6)") / F.count("*").over(w))
        .cast("decimal(28,12)")
        .alias("credit"),
    )
    attributed = (
        split.groupBy(
            F.expr("v_us div 3600000000").cast("bigint").alias("view_hour")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_credits"),
            F.round(F.sum("credit").cast("double"), 6).alias("credit_sum"),
        )
    )
    unattributed = (
        p.join(cand.select("p_id").distinct(), "p_id", "anti")
        .agg(
            F.count("*").cast("bigint").alias("n_credits"),
            F.round(
                F.sum(F.col("p_value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("credit_sum"),
        )
        .select(
            F.lit(-1).cast("bigint").alias("view_hour"),
            "n_credits",
            "credit_sum",
        )
        .where(F.col("n_credits") > 0)
    )
    return attributed.unionByName(unattributed).orderBy("view_hour")


# ---------------------------------------------------------------------------
# Next-event path mining — the product-analytics "what do users do next"
# query (and, for an LLM pipeline, the source of next-action training
# sequences): per user, order events by time and emit every consecutive
# 3-step event_type path, then count paths globally and keep the top 20.
#
# Scale: LEAD shares ONE hash exchange on user_id (both offsets live in the
# same window spec), the path count is a map-side-combinable agg over a
# low-cardinality key (|event_type|^3), and the top-k plans as
# TakeOrderedAndProject — no global sort materializes. Per-user history
# length never matters: state is two lookahead rows per partition stream.
# ---------------------------------------------------------------------------
@_q(
    "events_path_triples",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS nxt1,
         LEAD(event_type, 2) OVER w AS nxt2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(EPOCH_US(ts) AS BIGINT), event_id)
),
paths AS (
  SELECT event_type || '>' || nxt1 || '>' || nxt2 AS path, user_id
  FROM ordered WHERE nxt2 IS NOT NULL
)
SELECT path,
       CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths
GROUP BY path
ORDER BY n_paths DESC, path
LIMIT 20
""",
)
def events_path_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_ts_us(t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("nxt1"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
    ).where(F.col("nxt2").isNotNull())
    path = F.concat_ws(">", "event_type", "nxt1", "nxt2").alias("path")
    return (
        stepped.select(path, "user_id")
        .groupBy("path")
        .agg(
            F.count("*").cast("bigint").alias("n_paths"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_paths"), "path")
        .limit(20)
    )


# --------------------------------------------------------------------------
# EWMA smoothing over an ordered frame — the trailing exponentially
# weighted average every metrics pipeline wants, which has no built-in
# window function because it's a sequential recurrence. Expressed as
# collect-the-frame + left fold: collect_list over a ROWS frame gathers
# values in frame order, then `aggregate` folds alpha*x + (1-alpha)*acc
# seeded with the oldest element — both engines fold the same values in
# the same order, so the doubles are bit-identical with no rounding. The
# frame is bounded (8 rows), so state per row is O(8) and the whole query
# costs one user-keyed exchange shared by both window specs; the user_id
# filter pushes down to the parquet scan. (An unbounded EWMA would be a
# streaming stateful op — that shape lives in streaming_queries.)
# --------------------------------------------------------------------------
@_q(
    "window_ewma_smoothing",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE user_id < 40
), sm AS (
  SELECT user_id, event_id, ts_us,
         list_reduce(
           list(v) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
           (acc, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc
         ) AS ewma,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, event_id AS last_event_id, ts_us AS last_ts, ewma
FROM sm WHERE rn = 1
ORDER BY user_id
""",
)
def window_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_ts_us(t(spark, sf_dir, "events")).where(F.col("user_id") < 40)
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, 0)
    )
    frame = F.collect_list(F.col("value").cast("double")).over(wf)
    ewma = F.aggregate(
        F.slice(frame, 2, F.size(frame) - 1),
        F.element_at(frame, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.col("ts").alias("ts_us"),
            ewma.alias("ewma"),
        )
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts_us").alias("last_ts"),
            "ewma",
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Markov transition matrix over user event sequences — the behavioral
# model behind next-action prediction and session simulation: P(next
# type | current type), estimated from each user's time-ordered stream.
# One LEAD over the user-keyed window (single exchange), then a
# |types|²-sized aggregate; probabilities are exact-integer ratios
# rounded to 6, so the matrix hash-matches cross-engine. The path-mining
# twin (events_path_triples) ranks raw trigrams; this one normalizes to
# per-state distributions.
# --------------------------------------------------------------------------
@_q(
    "events_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id
           ORDER BY CAST(EPOCH_US(ts) AS BIGINT), event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, next_type, n,
       ROUND(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY event_type), 6) AS p
FROM c
ORDER BY event_type, next_type
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_ts_us(t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    c = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wt = Window.partitionBy("event_type")
    return (
        c.withColumn(
            "p",
            F.round(F.col("n").cast("double") / F.sum("n").over(wt), 6),
        )
        .orderBy("event_type", "next_type")
    )


# --------------------------------------------------------------------------
# Cumulative cross-channel comparison (TPC-DS q51's shape): two event
# channels aggregated to a shared day grid (FULL OUTER join keeps days
# where only one channel moved), running totals per channel, and the
# crossover days where the cumulative purchase value overtakes cumulative
# view value. Exact-decimal running sums make both series — and therefore
# the crossover classification — hash-stable. All windows run over the
# day-grid aggregate, never the raw events.
# --------------------------------------------------------------------------
_DAY_US_C = 86_400_000_000


@_q(
    "window_cumulative_channel_compare",
    oracle=f"""
WITH e AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
         (CAST(EPOCH_US(ts) AS BIGINT) // {_DAY_US_C}) AS day
  FROM events WHERE event_type IN ('view', 'purchase')
),
vd AS (SELECT day, SUM(v) AS views FROM e WHERE event_type = 'view' GROUP BY day),
pd AS (SELECT day, SUM(v) AS purchases FROM e WHERE event_type = 'purchase' GROUP BY day),
grid AS (
  SELECT COALESCE(vd.day, pd.day) AS day,
         COALESCE(vd.views, 0) AS views,
         COALESCE(pd.purchases, 0) AS purchases
  FROM vd FULL OUTER JOIN pd ON vd.day = pd.day
),
cum AS (
  SELECT day,
         CAST(SUM(views) OVER (ORDER BY day) AS DOUBLE) AS cum_views,
         CAST(SUM(purchases) OVER (ORDER BY day) AS DOUBLE) AS cum_purchases
  FROM grid
)
SELECT day, cum_views, cum_purchases,
       cum_purchases > cum_views AS purchases_lead
FROM cum
ORDER BY day
""",
)
def window_cumulative_channel_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_ts_us(t(spark, sf_dir, "events")).where(
        F.col("event_type").isin("view", "purchase")
    )
    e = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        (F.col("ts") / F.lit(_DAY_US_C)).cast("bigint").alias("day"),
    )
    vd = (
        e.where(F.col("event_type") == "view")
        .groupBy("day")
        .agg(F.sum("v").alias("views"))
    )
    pd_ = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("day")
        .agg(F.sum("v").alias("purchases"))
    )
    grid = (
        vd.join(pd_, "day", "full_outer")
        .select(
            "day",
            F.coalesce("views", F.lit(0).cast("decimal(18,6)")).alias("views"),
            F.coalesce("purchases", F.lit(0).cast("decimal(18,6)")).alias(
                "purchases"
            ),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "day",
        F.sum("views").over(w).cast("double").alias("cum_views"),
        F.sum("purchases").over(w).cast("double").alias("cum_purchases"),
    )
    return cum.select(
        "day",
        "cum_views",
        "cum_purchases",
        (F.col("cum_purchases") > F.col("cum_views")).alias("purchases_lead"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Rolling correlation between two channels — the co-movement diagnostic
# (are purchases tracking views this week?) that has no built-in windowed
# form: Pearson r over a trailing 7-day frame, assembled from frame sums.
# Determinism discipline: every frame aggregate (Σv, Σp, Σvp, Σv², Σp²,
# n) is an EXACT decimal sum — products pinned to DECIMAL(38,12) before
# summing — then cast to double once; the r formula is identical IEEE
# ops on identical inputs (sqrt is correctly rounded per IEEE-754), so
# ROUND-6 agrees cross-engine. Windows run over the day grid, not the
# raw events.
# --------------------------------------------------------------------------
@_q(
    "window_rolling_correlation",
    oracle=f"""
WITH e AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
         (CAST(EPOCH_US(ts) AS BIGINT) // {86_400_000_000}) AS day
  FROM events WHERE event_type IN ('view', 'purchase')
),
vd AS (SELECT day, SUM(v) AS vv FROM e WHERE event_type = 'view' GROUP BY day),
pd AS (SELECT day, SUM(v) AS pv FROM e WHERE event_type = 'purchase' GROUP BY day),
grid AS (
  SELECT COALESCE(vd.day, pd.day) AS day,
         COALESCE(vd.vv, 0) AS vv, COALESCE(pd.pv, 0) AS pv
  FROM vd FULL OUTER JOIN pd ON vd.day = pd.day
),
fr AS (
  SELECT day,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(vv) OVER w AS DOUBLE) AS sv,
         CAST(SUM(pv) OVER w AS DOUBLE) AS sp,
         CAST(SUM(CAST(vv * pv AS DECIMAL(38,12))) OVER w AS DOUBLE) AS svp,
         CAST(SUM(CAST(vv * vv AS DECIMAL(38,12))) OVER w AS DOUBLE) AS svv,
         CAST(SUM(CAST(pv * pv AS DECIMAL(38,12))) OVER w AS DOUBLE) AS spp
  FROM grid
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, n,
       ROUND((n * svp - sv * sp)
             / NULLIF(SQRT((n * svv - sv * sv) * (n * spp - sp * sp)), 0),
             6) AS rolling_corr_7d
FROM fr
WHERE n >= 3
ORDER BY day
""",
)
def window_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_ts_us(t(spark, sf_dir, "events")).where(
        F.col("event_type").isin("view", "purchase")
    )
    e = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        (F.col("ts") / F.lit(86_400_000_000)).cast("bigint").alias("day"),
    )
    vd = (
        e.where(F.col("event_type") == "view")
        .groupBy("day")
        .agg(F.sum("v").alias("vv"))
    )
    pd_ = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("day")
        .agg(F.sum("v").alias("pv"))
    )
    zero = F.lit(0).cast("decimal(18,6)")
    grid = vd.join(pd_, "day", "full_outer").select(
        "day",
        F.coalesce("vv", zero).alias("vv"),
        F.coalesce("pv", zero).alias("pv"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    fr = grid.select(
        "day",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("vv").over(w).cast("double").alias("sv"),
        F.sum("pv").over(w).cast("double").alias("sp"),
        F.sum((F.col("vv") * F.col("pv")).cast("decimal(38,12)"))
        .over(w)
        .cast("double")
        .alias("svp"),
        F.sum((F.col("vv") * F.col("vv")).cast("decimal(38,12)"))
        .over(w)
        .cast("double")
        .alias("svv"),
        F.sum((F.col("pv") * F.col("pv")).cast("decimal(38,12)"))
        .over(w)
        .cast("double")
        .alias("spp"),
    )
    corr = F.round(
        (F.col("n") * F.col("svp") - F.col("sv") * F.col("sp"))
        / F.nullif(
            F.sqrt(
                (F.col("n") * F.col("svv") - F.col("sv") * F.col("sv"))
                * (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp"))
            ),
            F.lit(0.0),
        ),
        6,
    )
    return (
        fr.where(F.col("n") >= 3)
        .select("day", "n", corr.alias("rolling_corr_7d"))
        .orderBy("day")
    )
