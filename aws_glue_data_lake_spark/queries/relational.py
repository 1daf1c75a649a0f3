"""Relational operator library (SURVEY.md §2.1-§2.5, §2.7, §2.8) as named
oracle-checked queries over the TPC-H-ish fixtures.

The reference's only join is the MERGE equi-join (SURVEY.md §2.3 J1/J2) and
its only aggregate is a scalar MAX (A1); the full join/agg family here is
the engine surface the north star requires. Scale notes per query are in
the docstrings — broadcast for dimension tables, exact decimal sums for
cross-engine determinism, unique tiebreakers on every LIMIT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from aws_glue_data_lake_spark.localdf import local_df
from pyspark.sql import functions as F

from aws_glue_data_lake_spark.queries.base import Registry, davg_sql, dsum_sql, t
from aws_glue_data_lake_spark.session import session_memo, session_tmpdir
from aws_glue_data_lake_spark.tables import ts_us_col

REGISTRY = Registry()
_q = REGISTRY.query


def dsum(col: Column) -> Column:
    """Exact decimal sum reported as double (see base.py determinism rules)."""
    return F.sum(col.cast("decimal(18,6)")).cast("double")


def davg(col: Column) -> Column:
    return F.round(dsum(col) / F.count("*"), 6)


# --------------------------------------------------------------------------
# Grouped aggregation (TPC-H Q1 shape): scan-heavy, one shuffle, partial
# aggregation map-side. At 100 TB the l_shipdate filter pushes to parquet
# row-group stats and the group-by has 6 groups — the plan is scan-bound.
# --------------------------------------------------------------------------
@_q(
    "q1_pricing_summary",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql("l_quantity", "sum_qty")},
  {dsum_sql("l_extendedprice", "sum_base_price")},
  {dsum_sql("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
  {dsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
  {davg_sql("l_quantity", "avg_qty")},
  {davg_sql("l_extendedprice", "avg_price")},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# mergeSchema scan (S1): two generations of the orders table — an older
# narrow schema and a newer one with an added column — land as separate
# file groups; the read union-widens them (the DynamicFrame behavior,
# icberg/iceberg_tables.py:23). Old-generation rows surface NULL for the
# added column, which the aggregate makes oracle-visible. At 100 TB this
# is the ingest reality: schema evolution happens mid-corpus and the scan
# must absorb it without a rewrite.
# --------------------------------------------------------------------------
@_q(
    "scan_merge_schema_evolution",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS BIGINT)
         AS n_with_priority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
""",
)
def scan_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = spark.read.option("mergeSchema", "true").parquet(
        _two_generation_dir(spark, sf_dir)
    )
    return merged.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("o_orderpriority").cast("bigint").alias("n_with_priority"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


@session_memo
def _two_generation_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the two-generation fixture once per (session, sf_dir), so
    repeat invocations (bench, back-to-back driver checks) plan a pure
    read instead of re-writing the fixture every time."""
    o = t(spark, sf_dir, "orders")
    stage = session_tmpdir("merge_schema_")
    o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{stage}/gen=1")
    o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{stage}/gen=2")
    return stage


# --------------------------------------------------------------------------
# approx_percentile (t-digest-ish sketch): the scale path for quantiles —
# one pass, constant-size mergeable sketch per group. The approximate
# VALUE is engine-specific, but its defining contract is checkable: the
# fraction of rows ≤ the reported p-quantile must lie within the sketch's
# rank-error bound of p. The query emits the exact quantiles plus one
# verdict boolean per percentile; the oracle asserts the verdicts.
# --------------------------------------------------------------------------
_PCT_ACC = 1000  # Spark's rank error ≤ 1/accuracy
_PCT_EPS = 2.0 / _PCT_ACC  # bound + slack for ties at the boundary


@_q(
    "agg_approx_percentile_price",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(QUANTILE_CONT(o_totalprice, 0.5) AS DOUBLE), 6) AS exact_p50,
       ROUND(CAST(QUANTILE_CONT(o_totalprice, 0.9) AS DOUBLE), 6) AS exact_p90,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound
FROM orders
""",
)
def agg_approx_percentile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_totalprice")
    sketch = o.agg(
        F.expr(
            f"approx_percentile(o_totalprice, array(0.5, 0.9), {_PCT_ACC})"
        ).alias("ap"),
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("exact_p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("exact_p90"),
    )
    ranked = o.crossJoin(F.broadcast(sketch)).agg(
        F.first("n_orders").alias("n_orders"),
        F.first("exact_p50").alias("exact_p50"),
        F.first("exact_p90").alias("exact_p90"),
        (
            F.count(F.when(F.col("o_totalprice") <= F.element_at("ap", 1), 1))
            / F.first("n_orders")
        ).alias("frac50"),
        (
            F.count(F.when(F.col("o_totalprice") <= F.element_at("ap", 2), 1))
            / F.first("n_orders")
        ).alias("frac90"),
    )
    return ranked.select(
        "n_orders",
        "exact_p50",
        "exact_p90",
        (F.abs(F.col("frac50") - 0.5) <= _PCT_EPS).alias("p50_within_bound"),
        (F.abs(F.col("frac90") - 0.9) <= _PCT_EPS).alias("p90_within_bound"),
    )


# --------------------------------------------------------------------------
# Range join (interval containment), bin-bucketed: each event aggregates
# its customer's orders with order-date in [event_time − 30 d, event_time].
# A naive range join is an equi-join on the key with a residual range
# predicate — one hot key degenerates to O(n·m) comparisons. The scale
# pattern (what Databricks' range-join optimization and KDB's window joins
# do under the hood): quantize time into bins the width of the range; an
# interval of width W overlaps at most 2 W-wide bins, so the probe side
# explodes into its ≤2 bins and the join becomes a plain hash equi-join on
# (key, bin) with the exact BETWEEN refining the candidates. The oracle is
# the naive range join — semantics identical.
# --------------------------------------------------------------------------
_RANGE_W_US = 30 * 86_400 * 1_000_000  # 30 days in µs


@_q(
    "join_range_event_order_window",
    oracle=f"""
SELECT e.event_id,
       e.user_id,
       CAST(EPOCH_US(e.ts) AS BIGINT) AS ts_us,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql("o.o_totalprice", "total_spend")}
FROM events e
JOIN orders o
  ON o.o_custkey = e.user_id
 AND CAST(EPOCH_US(o.o_orderdate) AS BIGINT)
     BETWEEN CAST(EPOCH_US(e.ts) AS BIGINT) - {_RANGE_W_US}
         AND CAST(EPOCH_US(e.ts) AS BIGINT)
WHERE e.user_id < 50
GROUP BY e.event_id, e.user_id, ts_us
ORDER BY e.event_id
""",
)
def join_range_event_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_raw = t(spark, sf_dir, "events")
    ev = ev_raw.where(F.col("user_id") < 50).select(
        "event_id",
        "user_id",
        ts_us_col(ev_raw).alias("ts_us"),
    )
    od_raw = t(spark, sf_dir, "orders")
    od = (
        od_raw.where(F.col("o_custkey") < 50)
        .select(
            F.col("o_custkey").alias("user_id"),
            # dtype-dispatched epoch-µs (drift-proof, see tables.ts_us_col)
            ts_us_col(od_raw, "o_orderdate").alias("ot"),
            "o_totalprice",
        )
        .withColumn("bin", F.expr(f"ot div {_RANGE_W_US}"))
    )
    # The [t − W, t] interval covers at most 2 W-wide bins.
    ev_bins = ev.select(
        "*",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"(ts_us - {_RANGE_W_US}) div {_RANGE_W_US}"),
                    F.expr(f"ts_us div {_RANGE_W_US}"),
                )
            )
        ).alias("bin"),
    )
    return (
        ev_bins.join(od, ["user_id", "bin"])
        .where(
            (F.col("ot") >= F.col("ts_us") - _RANGE_W_US)
            & (F.col("ot") <= F.col("ts_us"))
        )
        .groupBy("event_id", "user_id", "ts_us")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_spend"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Multi-way star join (TPC-H Q5 shape). region/nation/supplier are tiny
# dimensions — broadcast them so the only shuffle is the orders⋈lineitem
# fact join (AQE turns that into a co-partitioned sort-merge at scale).
# --------------------------------------------------------------------------
@_q(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT
  n.n_name AS nation,
  {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("nation"))
    )


# --------------------------------------------------------------------------
# Bilateral trade volume (TPC-H Q7 shape): revenue shipped between two
# nations, per direction per year. Both nation probes broadcast (one tiny
# dim read twice under different keys); the symmetric two-direction
# predicate lives ON the joined nation names so Catalyst can evaluate it
# after the broadcasts without shuffling the fact side twice. The only
# exchanges are the fact joins on orderkey/custkey + the final 3-key agg.
# --------------------------------------------------------------------------
@_q(
    "q7_bilateral_trade_volume",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
       {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n1.n_name, n2.n_name, YEAR(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7_bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    both = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(both)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# National market share (TPC-H Q8 shape): NATION_3's share of ASIA-market
# ECONOMY-part revenue, per order year. The share is a conditional sum
# over the same joined fact rows — numerator and denominator come out of
# ONE aggregation (sum of CASE), never two passes. All five dimensions
# broadcast; the only corpus shuffles are lineitem⋈orders on orderkey and
# orders⋈customer on custkey. Both sums are exact-decimal, so the final
# double ÷ double share is bit-identical across engines.
# --------------------------------------------------------------------------
@_q(
    "q8_national_market_share",
    oracle="""
SELECT CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_3'
                 THEN l.l_extendedprice * (1 - l.l_discount)
                 ELSE 0 END AS DECIMAL(18, 6))) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(18, 6))) AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = n2.n_regionkey
WHERE r.r_name = 'ASIA'
  AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY YEAR(o.o_orderdate)
ORDER BY o_year
""",
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = t(spark, sf_dir, "customer")
    p = (
        t(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), "n_regionkey")
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg((dsum(nat_vol) / dsum(vol)).alias("mkt_share"))
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Product-type profit by nation and year (TPC-H Q9 shape). The fixture
# has no partsupp, so supply cost is proxied as 60% of the part's retail
# price — profit = l_extendedprice·(1−l_discount) − 0.6·p_retailprice·
# l_quantity, computed per line BEFORE the exact-decimal cast so both
# engines aggregate the same doubles. part carries the name predicate and
# the cost column (broadcast); supplier/nation broadcast; the one heavy
# exchange is lineitem⋈orders on orderkey, then a (nation, year) agg.
# --------------------------------------------------------------------------
@_q(
    "q9_product_type_profit",
    oracle=f"""
SELECT n.n_name AS nation,
       CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
       {dsum_sql(
           "l.l_extendedprice * (1 - l.l_discount)"
           " - 0.6 * p.p_retailprice * l.l_quantity",
           "sum_profit",
       )}
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY n.n_name, YEAR(o.o_orderdate)
ORDER BY nation, o_year DESC
""",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    p = (
        t(spark, sf_dir, "part")
        .where(F.col("p_name").contains("gear"))
        .select("p_partkey", "p_retailprice")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# --------------------------------------------------------------------------
# Returned-item revenue ranking (TPC-H Q10 shape): customers ranked by
# revenue lost to returns in one quarter. The order-date predicate prunes
# the orders scan; the returnflag predicate prunes lineitem; nation
# broadcasts; top-20 plans as TakeOrderedAndProject, so nothing sorts the
# full aggregate.
# --------------------------------------------------------------------------
@_q(
    "q10_returned_item_ranking",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
       n.n_name AS nation
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q10_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    n = t(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(
            o.where(
                (F.col("o_orderdate")
                 >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate")
                   < F.lit("1996-07-01 00:00:00").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Threshold-vs-global-aggregate (TPC-H Q11 shape, partkey inventory value
# without a partsupp table): parts whose lineitem revenue exceeds a fixed
# fraction of TOTAL revenue. The global scalar re-aggregates the per-part
# table (one row per part — tiny) and enters the plan as a broadcast
# 1-row cross join, NOT a single-partition window: the per-part aggregate
# shuffles once on partkey and nothing else moves. Both sums re-cast
# through DECIMAL(18,6) so the 0.1% threshold compares exact values on
# both engines.
# --------------------------------------------------------------------------
@_q(
    "q11_important_part_value",
    oracle=f"""
WITH pv AS (
  SELECT l_partkey,
         {dsum_sql("l_extendedprice * (1 - l_discount)", "value")}
  FROM lineitem GROUP BY l_partkey
),
tot AS (
  SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
         COUNT(*) AS n_parts
  FROM pv
)
SELECT l_partkey, ROUND(value, 6) AS value
FROM pv, tot
WHERE value > 1.25 * total / n_parts
ORDER BY value DESC, l_partkey
""",
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value")
    )
    # Threshold is 1.25× the MEAN per-part value, not a fixed fraction of
    # the total — TPC-H's own Q11 scales its fraction by 1/SF for the same
    # reason: a fixed fraction degenerates as the part count grows.
    tot = pv.agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total"),
        F.count("*").alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(F.col("value") > 1.25 * F.col("total") / F.col("n_parts"))
        .select("l_partkey", F.round("value", 6).alias("value"))
        .orderBy(F.desc("value"), "l_partkey")
    )


# --------------------------------------------------------------------------
# Conditional-aggregation mix (TPC-H Q12 shape, priority mix of late
# shipments): one join, CASE-counting two priority classes per line
# status. The 90-day lateness predicate is join-side (compares two
# columns), so it evaluates inside the join stage; the aggregate shuffles
# a 2-value key.
# --------------------------------------------------------------------------
@_q(
    "q12_late_shipment_priority_mix",
    oracle="""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
""",
)
def q12_late_shipment_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(high.cast("long")).cast("bigint").alias("high_line_count"),
            F.sum((~high).cast("long")).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# Conditional-aggregate ratio (TPC-H Q14 shape): share of one month's
# revenue from PROMO-type parts. part is dimension-sized → broadcast; the
# whole query is one pruned fact scan + one 1-row aggregate, and the
# ratio divides two exact decimal sums in double (ROUND 6 for the pin).
# --------------------------------------------------------------------------
@_q(
    "q14_promo_revenue_share",
    oracle="""
SELECT ROUND(
  100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                        THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                  AS DECIMAL(18,6))
                        ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


# --------------------------------------------------------------------------
# Disjunctive bracket predicates (TPC-H Q19 shape): an OR of three
# (brand, size-range, quantity-range) brackets across the join. Catalyst
# splits the disjunction: part-only conjuncts (brand OR'd with brand)
# can't prune alone, but the common join key + broadcast keep this a
# single pruned fact scan; the revenue is one exact 1-row aggregate.
# --------------------------------------------------------------------------
@_q(
    "q19_bracketed_revenue",
    oracle=f"""
SELECT {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 40)
   OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
""",
)
def q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")

    def bracket(brand: str, smin: int, smax: int, qmin: int, qmax: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(smin, smax)
            & F.col("l_quantity").between(qmin, qmax)
        )

    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(
            bracket("Brand#1", 1, 15, 1, 20)
            | bracket("Brand#13", 10, 30, 10, 40)
            | bracket("Brand#20", 20, 50, 20, 50)
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------------------
# Join family: inner / left outer / left semi / left anti. The anti-join is
# the engine's MERGE-delete building block (SURVEY.md §2.4).
# --------------------------------------------------------------------------
@_q(
    "join_inner_customer_nation",
    oracle=f"""
SELECT n.n_name AS nation,
       COUNT(*) AS n_customers,
       {dsum_sql("c.c_acctbal", "total_acctbal")}
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""",
)
def join_inner_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("nation")
    )


@_q(
    "join_left_customer_orders",
    oracle=f"""
SELECT c.c_custkey,
       COUNT(o.o_orderkey) AS n_orders,
       {dsum_sql("COALESCE(o.o_totalprice, 0)", "total_spent")}
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
ORDER BY c.c_custkey
""",
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(
            F.count(o.o_orderkey).alias("n_orders"),
            dsum(F.coalesce(o.o_totalprice, F.lit(0))).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@_q(
    "join_semi_customers_with_urgent_orders",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
ORDER BY c.c_custkey
""",
)
def join_semi_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@_q(
    "join_anti_customers_without_orders",
    oracle="""
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c.c_custkey
""",
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# Grouped aggregates: plain, distinct, rollup, cube (SURVEY.md §2.5 —
# absent from the reference, required by the north star).
# --------------------------------------------------------------------------
@_q(
    "agg_orders_by_status_priority",
    oracle=f"""
SELECT o_orderstatus,
       o_orderpriority,
       COUNT(*) AS n_orders,
       {dsum_sql("o_totalprice", "total_price")},
       {davg_sql("o_totalprice", "avg_price")},
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
""",
)
def agg_orders_by_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
            davg(F.col("o_totalprice")).alias("avg_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@_q(
    "agg_count_distinct_customers_per_priority",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_count_distinct_customers_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "agg_rollup_lineitem_flags",
    oracle=f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag) + GROUPING(l_linestatus) AS INT) AS grouping_level,
       COUNT(*) AS n_items,
       {dsum_sql("l_quantity", "sum_qty")}
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY grouping_level, returnflag, linestatus
""",
)
def agg_rollup_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag") + F.grouping("l_linestatus"))
            .cast("int")
            .alias("grouping_level"),
            F.count("*").alias("n_items"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "grouping_level",
            "n_items",
            "sum_qty",
        )
        .orderBy("grouping_level", "returnflag", "linestatus")
    )


@_q(
    "agg_cube_orders",
    oracle=f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS INT) AS grouping_level,
       COUNT(*) AS n_orders,
       {dsum_sql("o_totalprice", "total_price")}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY grouping_level, status, priority
""",
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            (F.grouping("o_orderstatus") + F.grouping("o_orderpriority"))
            .cast("int")
            .alias("grouping_level"),
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "grouping_level",
            "n_orders",
            "total_price",
        )
        .orderBy("grouping_level", "status", "priority")
    )


# --------------------------------------------------------------------------
# Sorts / limits (SURVEY.md §2.7): global top-k with a unique tiebreaker.
# Spark plans this as TakeOrderedAndProject — no full sort at scale.
# --------------------------------------------------------------------------
@_q(
    "sort_limit_top10_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def sort_limit_top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY.md §2.8): the reference composes EXCEPT∪UNION
# implicitly via MERGE+append; here the explicit family.
# --------------------------------------------------------------------------
@_q(
    "set_union_segments",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_custkey FROM customer WHERE c_acctbal > 9000
ORDER BY c_custkey
""",
)
def set_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.where(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.union(b).distinct().orderBy("c_custkey")


@_q(
    "set_intersect_buyers",
    oracle="""
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '5-LOW'
ORDER BY c_custkey
""",
)
def set_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    b = o.where(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.intersect(b).orderBy("c_custkey")


@_q(
    "set_except_nonbuyers",
    oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
ORDER BY c_custkey
""",
)
def set_except_nonbuyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    # subtract == EXCEPT DISTINCT. exceptAll().distinct() is NOT the same:
    # a left row with higher multiplicity than the right survives it.
    return c.subtract(o).orderBy("c_custkey")


# --------------------------------------------------------------------------
# Full outer join: per-nation customer vs supplier presence. Aggregate each
# side BEFORE the join (partial aggregation shrinks both inputs to ≤25 rows,
# so the full-outer is a trivial exchange regardless of fact-table scale).
# --------------------------------------------------------------------------
@_q(
    "join_full_outer_nation_presence",
    oracle="""
WITH c AS (
  SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers FROM customer
  GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers FROM supplier
  GROUP BY s_nationkey
)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       CAST(COALESCE(c.n_customers, 0) AS BIGINT) AS n_customers,
       CAST(COALESCE(s.n_suppliers, 0) AS BIGINT) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
ORDER BY nationkey
""",
)
def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).cast("bigint").alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).cast("bigint").alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# Cross join: region × order-status scaffold (the build-a-dense-grid
# pattern). Both sides are tiny aggregates, so the product is 15 rows —
# cross joins are only ever sane between bounded inputs; Spark requires
# the explicit crossJoin call as a guardrail.
# --------------------------------------------------------------------------
@_q(
    "join_cross_region_status_grid",
    oracle="""
SELECT r.r_name, s.o_orderstatus, s.n_orders
FROM region r
CROSS JOIN (
  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_orderstatus
) s
ORDER BY r_name, o_orderstatus
""",
)
def join_cross_region_status_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region").select("r_name")
    s = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )
    return r.crossJoin(s).orderBy("r_name", "o_orderstatus")


# --------------------------------------------------------------------------
# GROUPING SETS through the SQL entry path (the reference's mode of running
# queries — SQL strings into Catalyst, icberg/iceberg_tables.py:107-109):
# status-only, priority-only, and grand-total groupings in one pass.
# GROUPING() flags disambiguate real NULLs from subtotal rows.
# --------------------------------------------------------------------------
@_q(
    "agg_grouping_sets_orders",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
""",
)
def agg_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
        """
    )


# --------------------------------------------------------------------------
# approx_count_distinct (HyperLogLog++): the scale path for distinct counts
# — no exact-distinct shuffle, constant-size sketch per group, mergeable
# across partitions. Raw approx values differ by engine, so the checked
# output carries the exact count plus a tolerance verdict
# |approx − exact| ≤ 3·rsd·exact; the oracle asserts the verdict is TRUE
# for every group, making the sketch's accuracy contract hash-checkable
# without demanding bit-identical HLL estimates.
# --------------------------------------------------------------------------
_APPROX_RSD = 0.02


@_q(
    "agg_approx_distinct_customers",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       TRUE AS within_tolerance
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Measured r15: up-partitioning the single-file scan (the _norm_table
    # pattern) did NOT help here — the countDistinct expand's cost rides
    # the post-shuffle final aggregate, not the scan stage. Left as-is.
    o = t(spark, sf_dir, "orders")
    approx = F.approx_count_distinct("o_custkey", rsd=_APPROX_RSD)
    exact = F.countDistinct("o_custkey").cast("bigint")
    return (
        o.groupBy("o_orderpriority")
        .agg(approx.alias("approx_customers"), exact.alias("exact_customers"))
        .select(
            "o_orderpriority",
            "exact_customers",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers"))
                <= 3 * _APPROX_RSD * F.col("exact_customers")
            ).alias("within_tolerance"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# As-of (point-in-time) join: each event picks up its customer's latest
# order at-or-before the event time — operators/asof.py (union-and-carry:
# ONE shuffle on the key, no range-duplicated pairs). user_id < 50 bounds
# output (partition-key filter, commutes with the window).
# --------------------------------------------------------------------------
@_q(
    "join_asof_event_order",
    oracle="""
WITH l AS (
  SELECT user_id AS k, CAST(EPOCH_US(ts) AS BIGINT) AS t, 1 AS side,
         CAST(NULL AS BIGINT) AS tb,
         event_id, event_type, CAST(NULL AS BIGINT) AS o_orderkey,
         CAST(NULL AS DOUBLE) AS o_totalprice
  FROM events WHERE user_id < 50
), r AS (
  SELECT o_custkey AS k, CAST(EPOCH_US(o_orderdate) AS BIGINT) AS t, 0 AS side,
         o_orderkey AS tb,
         CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS VARCHAR) AS event_type,
         o_orderkey, o_totalprice
  FROM orders WHERE o_custkey < 50
), u AS (
  SELECT * FROM l UNION ALL BY NAME SELECT * FROM r
), carried AS (
  SELECT *,
    LAST_VALUE(o_orderkey IGNORE NULLS) OVER w AS asof_orderkey,
    LAST_VALUE(o_totalprice IGNORE NULLS) OVER w AS asof_totalprice
  FROM u
  WINDOW w AS (PARTITION BY k ORDER BY t, side, tb ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, k AS user_id, t AS ts_us, event_type, asof_orderkey, asof_totalprice
FROM carried WHERE side = 1
ORDER BY event_id
""",
)
def join_asof_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.operators.asof import asof_join

    ev_raw = t(spark, sf_dir, "events")
    ev = ev_raw.where(F.col("user_id") < 50).select(
        "event_id", "user_id", ts_us_col(ev_raw).alias("ts_us"), "event_type"
    )
    o_raw = t(spark, sf_dir, "orders")
    orders = o_raw.where(F.col("o_custkey") < 50).select(
        "o_custkey",
        # dtype-dispatched epoch-µs: for TIMESTAMP_NTZ this diffs from the
        # NTZ epoch, timezone-free (an LTZ cast would shift by session TZ)
        ts_us_col(o_raw, "o_orderdate").alias("order_t"),
        "o_orderkey",
        "o_totalprice",
    )
    joined = asof_join(
        ev.withColumnRenamed("user_id", "k"),
        orders.withColumnRenamed("o_custkey", "k"),
        key="k",
        left_time="ts_us",
        right_time="order_t",
        payload=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        F.col("k").alias("user_id"),
        "ts_us",
        "event_type",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_totalprice").alias("asof_totalprice"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Salted equi-join: the skew-mitigation pattern made explicit. The fact
# side gets a deterministic salt (orderkey mod 8); the dimension side is
# exploded ×8; the join key becomes (custkey, salt), splitting any hot key
# across 8 reducers. Semantically identical to the plain join — the oracle
# IS the plain join. (AQE's skewJoin does this adaptively; the manual form
# is for stable layouts/bucketing.)
# --------------------------------------------------------------------------
_N_SALT = 8


@_q(
    "join_salted_segment_revenue",
    oracle="""
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c_mktsegment
""",
)
def join_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").withColumn(
        "salt", (F.col("o_orderkey") % _N_SALT).cast("int")
    )
    c = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.lit(_N_SALT - 1)).cast("array<int>")),
        )
    )
    return (
        o.join(c, (o.o_custkey == c.c_custkey) & (o.salt == c.salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Pivot: priority × status counts as columns (groupBy().pivot() with an
# explicit value list — at scale an explicit list avoids the extra
# distinct-values job AND keeps the output schema static for downstream
# consumers). Oracle = conditional aggregation, which is exactly what the
# pivot plans to.
# --------------------------------------------------------------------------
@_q(
    "agg_pivot_status_counts",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("status_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("status_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("status_p"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Exact percentiles: linear-interpolation quantiles per group (Spark
# `percentile` == DuckDB `quantile_cont`). Exact percentiles need the full
# sorted group — right for bounded group counts; for per-key percentiles
# at scale switch to approx_percentile (t-digest, mergeable map-side).
# --------------------------------------------------------------------------
@_q(
    "agg_exact_percentiles_orders",
    oracle="""
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50_price,
       ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
       ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_exact_percentiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90_price"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99_price"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# TPC-H Q3 shape (shipping priority): selective dimension filter →
# fact⋈fact join → top-10 by aggregated revenue. The c_mktsegment filter
# shrinks customer before the join; TakeOrdered caps the result driver-side.
# --------------------------------------------------------------------------
@_q(
    "q3_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Multiset (ALL) set operations: EXCEPT ALL / INTERSECT ALL keep duplicate
# cardinality — the dedup-aware complement of the distinct set ops above.
# --------------------------------------------------------------------------
@_q(
    "set_except_all_priorities",
    oracle="""
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_orderpriority
""",
)
def set_except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = o.where(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return a.exceptAll(b).orderBy("o_orderpriority")


@_q(
    "set_intersect_all_priorities",
    oracle="""
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_orderpriority
""",
)
def set_intersect_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = o.where(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return a.intersectAll(b).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# Unpivot (melt): wide per-nation counts back to long (nationkey, side,
# n) — the inverse of pivot; ids stay, value columns become rows.
# --------------------------------------------------------------------------
@_q(
    "unpivot_nation_presence",
    oracle="""
WITH wide AS (
  SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
         CAST(COALESCE(c.n_customers, 0) AS BIGINT) AS customers,
         CAST(COALESCE(s.n_suppliers, 0) AS BIGINT) AS suppliers
  FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
        FROM customer GROUP BY 1) c
  FULL OUTER JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
                   FROM supplier GROUP BY 1) s
    ON c.nationkey = s.nationkey
)
SELECT nationkey, side, n FROM wide
UNPIVOT (n FOR side IN (customers, suppliers))
ORDER BY nationkey, side
""",
)
def unpivot_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = join_full_outer_nation_presence(spark, sf_dir).select(
        "nationkey",
        F.col("n_customers").alias("customers"),
        F.col("n_suppliers").alias("suppliers"),
    )
    return wide.unpivot(
        ids=["nationkey"],
        values=["customers", "suppliers"],
        variableColumnName="side",
        valueColumnName="n",
    ).orderBy("nationkey", "side")


# --------------------------------------------------------------------------
# Bucketed co-located join (operators/layout.py): both fact tables are
# written bucketed+sorted by orderkey, after which the join plans with
# ZERO Exchange — each task reads bucket i of both tables locally. This is
# the ingest-side fix for the 100 TB orders⋈lineitem shuffle: the
# partitioning cost is paid once at write time instead of on every query
# (tests/test_plans.py pins the no-shuffle plan).
# --------------------------------------------------------------------------
@_q(
    "join_bucketed_colocated_revenue",
    oracle=f"""
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
""",
)
def join_bucketed_colocated_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_glue_data_lake_spark.operators.layout import bucketed_join, write_bucketed

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    ot, lt = f"orders_bkt_{tag}", f"lineitem_bkt_{tag}"
    write_bucketed(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        ot,
        ["o_orderkey"],
        16,
        sort_cols=["o_orderkey"],
    )
    write_bucketed(
        t(spark, sf_dir, "lineitem").selectExpr(
            "l_orderkey", "l_extendedprice * (1 - l_discount) AS disc_price"
        ),
        lt,
        ["l_orderkey"],
        16,
        sort_cols=["l_orderkey"],
    )
    joined = bucketed_join(
        spark, ot, lt, on=[F.col("l_orderkey") == F.col("o_orderkey")]
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(F.col("disc_price")).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Statistical moments (stddev / variance / correlation): the built-in
# stddev_samp/corr aggregate in ANY engine sums doubles in partition order,
# so two engines (or two runs) disagree in the last bits. Derived from
# EXACT decimal power sums instead — n, Σx, Σx², Σy, Σy², Σxy are
# order-free exact decimals, the moments are computed from them in double
# and rounded — one pass, map-side partial sums, bit-identical everywhere.
# --------------------------------------------------------------------------
@_q(
    "agg_stats_moments",
    oracle="""
WITH s AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS sx,
         SUM(CAST(o_totalprice AS DECIMAL(38,8)) * CAST(o_totalprice AS DECIMAL(38,8))) AS sxx,
         SUM(CAST(o_custkey AS DECIMAL(38,8))) AS sy,
         SUM(CAST(o_custkey AS DECIMAL(38,8)) * CAST(o_custkey AS DECIMAL(38,8))) AS syy,
         SUM(CAST(o_totalprice AS DECIMAL(38,8)) * CAST(o_custkey AS DECIMAL(38,8))) AS sxy
  FROM orders
)
SELECT CAST(n AS BIGINT) AS n_orders,
       ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_price,
       ROUND((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1), 6)
         AS var_price,
       ROUND(SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 6)
         AS stddev_price,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS corr_price_custkey
FROM s
""",
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(38,8)")
    y = F.col("o_custkey").cast("decimal(38,8)")
    s = o.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var = (sxx - sx * sx / n) / (n - 1)
    return s.select(
        n.cast("bigint").alias("n_orders"),
        F.round(sx / n, 6).alias("mean_price"),
        F.round(var, 6).alias("var_price"),
        F.round(F.sqrt(var), 6).alias("stddev_price"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_price_custkey"),
    )


# --------------------------------------------------------------------------
# Mergeable-sketch rollup — the pre-aggregation pattern that makes
# distinct-count dashboards viable at 100 TB: build one Datasketches HLL
# sketch of user_id PER DAY (the granularity a rollup table would
# persist), then answer the weekly question by UNIONING the daily
# sketches — never re-touching the raw events. hll_sketch_agg is a true
# partial aggregate (map-side combine, bytes-sized state per day);
# hll_union_agg merges 7 fixed-size sketches per output row, so the
# weekly pass costs O(days), not O(events). DuckDB can't reproduce the
# sketch registers, so (same contract as agg_approx_distinct_customers)
# the hashed columns are the EXACT weekly distincts plus a tolerance
# verdict on the estimate; the estimate itself stays out of the hash.
# --------------------------------------------------------------------------
_DAY_US = 24 * 3_600 * 1_000_000


@_q(
    "agg_hll_sketch_rollup",
    oracle=f"""
WITH e AS (
  SELECT user_id,
         CAST(EPOCH_US(ts) AS BIGINT) // {_DAY_US} AS day
  FROM events
)
SELECT day // 7 AS week,
       CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tolerance
FROM e
GROUP BY day // 7
ORDER BY week
""",
)
def agg_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    e = ev.select("user_id", ts_us_col(ev).alias("_us")).select(
        "user_id", F.expr(f"_us div {_DAY_US}").alias("day")
    )
    daily = e.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.countDistinct("user_id").alias("day_exact"),
    )
    weekly = daily.groupBy(F.expr("day div 7").alias("week")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    # The exact weekly distinct needs the raw rows (daily exacts don't
    # merge); one extra aggregate over e, joined on the tiny week key.
    exact = e.groupBy(F.expr("day div 7").alias("week")).agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        weekly.join(exact, "week")
        .select(
            "week",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_tolerance"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# CSV source scan (S1 family, format breadth): the orders table staged as
# headered CSV and read back with an EXPLICIT schema — never inferSchema
# in a pipeline (inference is a full extra pass over 100 TB and can flip
# types between runs; the declared schema is the contract). Malformed
# rows surface as nulls under the default PERMISSIVE mode rather than
# killing the job. The staged content equals the fixture, so the oracle
# runs on the orders view directly.
# --------------------------------------------------------------------------
@_q(
    "scan_csv_source",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
       CAST(MIN(EPOCH_US(o_orderdate)) AS BIGINT) AS first_order_us,
       CAST(MAX(EPOCH_US(o_orderdate)) AS BIGINT) AS last_order_us
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def scan_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _csv_stage_dir(spark, sf_dir)
    # o_orderdate travels as epoch-µs int64 (the engine's transport-safe
    # time convention — CSV timestamp round-trips are format/zone traps).
    schema = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate_us BIGINT"
    )
    o = spark.read.schema(schema).option("header", "true").csv(path)
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_price"),
            F.min("o_orderdate_us").alias("first_order_us"),
            F.max("o_orderdate_us").alias("last_order_us"),
        )
        .orderBy("o_orderstatus")
    )


@session_memo
def _csv_stage_dir(spark: SparkSession, sf_dir: str) -> str:
    o_t = t(spark, sf_dir, "orders")
    o = o_t.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        ts_us_col(o_t, "o_orderdate").alias("o_orderdate_us"),
    )
    stage = session_tmpdir("csv_source_") + "/orders"
    o.write.mode("overwrite").option("header", "true").csv(stage)
    return stage


# --------------------------------------------------------------------------
# JSON-lines source scan: the events table staged as JSONL (ts carried as
# epoch-µs int64 — the transport-safe convention; ISO strings round-trip
# timezone bugs) and read back with an explicit schema, then the nested
# `props` JSON string parsed in-plan with from_json into a typed struct.
# Schema'd read + from_json is the production JSONL path: one pass, typed
# at the scan, no inference job.
# --------------------------------------------------------------------------
@_q(
    "scan_jsonl_source",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(MAX(EPOCH_US(ts)) AS BIGINT) AS max_ts_us
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def scan_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _jsonl_stage_dir(spark, sf_dir)
    schema = (
        "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    ev = spark.read.schema(schema).json(path)
    parsed = ev.withColumn(
        "props_t", F.from_json("props", "k BIGINT")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
            F.sum(F.col("props_t.k")).cast("bigint").alias("sum_k"),
            F.max("ts_us").alias("max_ts_us"),
        )
        .orderBy("event_type")
    )


@session_memo
def _jsonl_stage_dir(spark: SparkSession, sf_dir: str) -> str:
    ev = t(spark, sf_dir, "events")
    out = ev.select(
        "event_id",
        ts_us_col(ev).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    stage = session_tmpdir("jsonl_source_") + "/events"
    out.write.mode("overwrite").json(stage)
    return stage


# --------------------------------------------------------------------------
# GROUPED_AGG pandas UDAF — the custom-aggregate leg of §2.11: a
# pandas_udf aggregating a whole group's values to one scalar, planned as
# AggregateInPandas (Arrow transfer, one scalar back per group — state is
# group-bounded, not corpus-bounded). The kernel is a 10%-trimmed mean:
# sort, drop k = floor(n/10) from each tail, math.fsum the rest (exact —
# no pairwise-summation drift) — and the oracle mirrors it with an exact
# DECIMAL sum over the same sorted slice, so both engines agree to the
# rounded 6th decimal by construction.
# --------------------------------------------------------------------------
@_q(
    "agg_grouped_pandas_trimmed_mean",
    oracle="""
WITH ordered AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                           THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
             / MAX(n - 2 * (n // 10)), 6) AS trimmed_mean
FROM ordered
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_grouped_pandas_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _trimmed_mean(v):
        s = v.sort_values(kind="mergesort").to_numpy()
        k = len(s) // 10
        kept = s[k : len(s) - k]
        return round(math.fsum(kept) / len(kept), 6)

    # Annotations set as live objects (module has `from __future__ import
    # annotations`, which stringifies inline hints; get_type_hints can't
    # resolve 'pd.Series' from a function-local import), so the GROUPED_AGG
    # eval type is inferred from Series -> float as usual.
    _trimmed_mean.__annotations__ = {"v": pd.Series, "return": float}
    trimmed_mean = pandas_udf(_trimmed_mean, "double")

    # Spark refuses to mix GROUPED_AGG pandas UDFs with JVM aggregates in
    # one Aggregate ([INVALID_PANDAS_UDF_PLACEMENT]), so the group size is
    # a second pandas UDAF sharing the same Arrow batch.
    def _n(v):
        return len(v)

    _n.__annotations__ = {"v": pd.Series, "return": int}
    n_events = pandas_udf(_n, "bigint")

    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            n_events(F.col("value")).alias("n_events"),
            trimmed_mean(F.col("value")).alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Theta-sketch set algebra — the mergeable-sketch story beyond plain
# distinct counts: HLL can only union, but audience/overlap questions
# ("users who did BOTH / ONLY clicked") need intersection and difference,
# which is exactly what Datasketches theta sketches add. One
# theta_sketch_agg per event_type (true partial aggregate, bytes-sized
# state), then the set algebra runs on two fixed-size sketches — never
# re-touching events. Same hash contract as the HLL rollup: DuckDB can't
# reproduce sketch registers, so the hashed columns are the EXACT set-op
# counts plus tolerance verdicts (relative to the union size, so the
# empty-difference case stays well-defined); estimates stay out of the
# hash. Below ~4k distincts theta sketches are in exact mode, so the
# verdicts also pass trivially at small sf — estimation mode is what the
# sf0.1 sweep exercises.
# --------------------------------------------------------------------------
@_q(
    "agg_theta_sketch_setops",
    oracle="""
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT
  CAST((SELECT COUNT(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM p)) AS BIGINT)
    AS exact_both,
  CAST((SELECT COUNT(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM p)) AS BIGINT)
    AS exact_click_only,
  CAST((SELECT COUNT(*) FROM (SELECT * FROM c UNION SELECT * FROM p)) AS BIGINT)
    AS exact_union,
  TRUE AS both_ok, TRUE AS click_only_ok, TRUE AS union_ok
""",
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    sk = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    # two one-row sides -> one broadcast cross: the algebra runs on two
    # fixed-size sketches regardless of corpus size
    c = sk.where(F.col("event_type") == "click").select(F.col("sk").alias("c_sk"))
    p = sk.where(F.col("event_type") == "purchase").select(F.col("sk").alias("p_sk"))
    est = c.crossJoin(F.broadcast(p)).select(
        F.theta_sketch_estimate(F.theta_intersection("c_sk", "p_sk")).alias("est_both"),
        F.theta_sketch_estimate(F.theta_difference("c_sk", "p_sk")).alias("est_click_only"),
        F.theta_sketch_estimate(F.theta_union("c_sk", "p_sk")).alias("est_union"),
    )
    cu = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    pu = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = (
        cu.join(pu, "user_id", "semi").agg(F.count("*").cast("bigint").alias("exact_both"))
        .crossJoin(
            F.broadcast(
                cu.join(pu, "user_id", "anti").agg(
                    F.count("*").cast("bigint").alias("exact_click_only")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                cu.union(pu).distinct().agg(
                    F.count("*").cast("bigint").alias("exact_union")
                )
            )
        )
    )
    tol = lambda e, x: (F.abs(F.col(e) - F.col(x)) <= 0.05 * F.col("exact_union"))
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_both",
        "exact_click_only",
        "exact_union",
        tol("est_both", "exact_both").alias("both_ok"),
        tol("est_click_only", "exact_click_only").alias("click_only_ok"),
        tol("est_union", "exact_union").alias("union_ok"),
    )


# --------------------------------------------------------------------------
# Custom connector via the Python DataSource API (§2.1): partitioned
# Arrow-vectorized parallel read of the synthetic CDC feed with id-range
# filter PUSHDOWN — the predicate lands in the reader's partition planner
# (the scan plans 8 range slices over [10000, 50000) only; the physical
# plan keeps just the isnotnull residue). The feed is pure arithmetic on
# the row id, so the oracle regenerates it with generate_series — the
# connector's entire output contract is hash-checked.
# --------------------------------------------------------------------------
@_q(
    "scan_python_datasource",
    oracle="""
WITH g AS (
  SELECT UNNEST(generate_series(10000, 49999)) AS id
), f AS (""" + __import__("aws_glue_data_lake_spark.pydatasource", fromlist=["FEED_SQL"]).FEED_SQL + """)
SELECT op,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       CAST(MIN(ts_us) AS BIGINT) AS first_ts_us,
       CAST(MAX(ts_us) AS BIGINT) AS last_ts_us
FROM f
GROUP BY op
ORDER BY op
""",
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.pydatasource import register_feed_source

    register_feed_source(spark)
    feed = (
        spark.read.format("cdc_feed")
        .option("n_rows", 60_000)
        .option("n_parts", 8)
        .load()
    )
    return (
        feed.where((F.col("id") >= 10_000) & (F.col("id") < 50_000))
        .groupBy("op")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
            F.min("ts_us").cast("bigint").alias("first_ts_us"),
            F.max("ts_us").cast("bigint").alias("last_ts_us"),
        )
        .orderBy("op")
    )


# --------------------------------------------------------------------------
# Custom SINK via the Python DataSource API (§2.1 write side): the orders
# aggregate flows through json_dir_sink's two-phase commit (tasks stage
# part files + WriterCommitMessages; only driver-side commit() promotes
# them and stamps _SUCCESS), then the query reads the COMMITTED files
# back with an explicit schema and returns them — so the hash match
# certifies the sink's atomic-visibility contract, not just the
# aggregate. Epoch-µs transport for the date column, as with the CSV/JSONL
# staging scans.
# --------------------------------------------------------------------------
@_q(
    "sink_python_datasource",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
       CAST(MIN(EPOCH_US(o_orderdate)) AS BIGINT) AS first_order_us
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from aws_glue_data_lake_spark.pydatasource import register_sink_source

    register_sink_source(spark)
    o = t(spark, sf_dir, "orders")
    # epoch-µs transport for the date column, computed pre-write
    agg = (
        o.withColumn("_us", ts_us_col(o, "o_orderdate"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_price"),
            F.min("_us").cast("bigint").alias("first_order_us"),
        )
    )
    out_dir = os.path.join(session_tmpdir("json_sink_"), uuid.uuid4().hex)
    os.makedirs(out_dir, exist_ok=True)
    agg.write.format("json_dir_sink").option("path", out_dir).mode("append").save()
    schema = (
        "o_orderstatus STRING, n_orders BIGINT, total_price DOUBLE, "
        "first_order_us BIGINT"
    )
    return (
        spark.read.schema(schema)
        .json(os.path.join(out_dir, "part-*.json"))
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# SQL pipe syntax (Spark 4's |> operator chain — query stages written in
# execution order instead of inside-out SQL): WHERE → EXTEND (computed
# column) → AGGREGATE ... GROUP BY → ORDER BY over lineitem. Same
# Catalyst plan as the classic form — the feature is surface, not
# semantics — so the classic-SQL DuckDB oracle is the exact twin. Decimal
# sum discipline as everywhere else.
# --------------------------------------------------------------------------
@_q(
    "sql_pipe_syntax_pricing",
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {dsum_sql("l_quantity", "sum_qty")},
       {dsum_sql("l_extendedprice * (1 - l_discount)", "sum_disc_price")}
FROM lineitem
WHERE l_quantity < 40
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def sql_pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("pipe_lineitem_v")
    return spark.sql(
        """
FROM pipe_lineitem_v
|> WHERE l_quantity < 40
|> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18, 6))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(disc_price AS DECIMAL(18, 6))) AS DOUBLE)
               AS sum_disc_price
   GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag, l_linestatus
"""
    )


# --------------------------------------------------------------------------
# Parameterized SQL — named :params bound via spark.sql(..., args=...),
# the injection-safe templating surface (values travel as literals in the
# parsed plan, never string-spliced, so Catalyst still constant-folds and
# pushes them down). The oracle inlines the same constants.
# --------------------------------------------------------------------------
@_q(
    "sql_parameterized_query",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "orders").createOrReplaceTempView("param_orders_v")
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM param_orders_v
WHERE o_totalprice > :min_price AND o_orderstatus = :status
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
        args={"min_price": 150000.0, "status": "F"},
    )


# --------------------------------------------------------------------------
# Blocked fuzzy join — the data-cleaning "almost the same name" matcher
# (catalog reconciliation, entity resolution). Names are DISTINCT-ed
# first (the name table is vocabulary-bounded, so the pair space stays
# fixed as the corpus scales — never self-join a fact table fuzzily), and
# candidates are BLOCKED on (first character equal, |len diff| <= 2)
# before the levenshtein <= 2 verify — the standard blocking-recall
# tradeoff, stated as the operator's semantics so the oracle mirrors it
# exactly. Levenshtein agrees across engines (classic unit-cost edit
# distance in both).
# --------------------------------------------------------------------------
@_q(
    "join_fuzzy_part_names",
    oracle="""
WITH names AS (
  SELECT p_name,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(MIN(p_partkey) AS BIGINT) AS first_key
  FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
 AND ABS(LEN(a.p_name) - LEN(b.p_name)) <= 2
 AND a.p_name < b.p_name
 AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
ORDER BY name_a, name_b
""",
)
def join_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.min("p_partkey").cast("bigint").alias("first_key"),
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.substring("p_name", 1, 1).alias("blk"),
        F.length("p_name").alias("len_a"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.substring("p_name", 1, 1).alias("blk"),
        F.length("p_name").alias("len_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .where(
            (F.abs(F.col("len_a") - F.col("len_b")) <= 2)
            & (F.col("name_a") < F.col("name_b"))
            & dist.between(1, 2)
        )
        .select(
            "name_a",
            "name_b",
            dist.cast("int").alias("edit_dist"),
            "n_parts_a",
            "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )


# --------------------------------------------------------------------------
# One-pass table profiling — the ANALYZE/describe primitive every
# warehouse runs before anything else: per-column null count, exact
# distinct count, and min/max, computed in ONE scan of orders (all
# aggregates fold into a single Aggregate node — no per-column passes).
# Numeric min/max report as strings alongside the lexical ones so one
# tall (column, metric) layout covers heterogeneous types; the epoch-µs
# transport convention covers the timestamp column.
# --------------------------------------------------------------------------
@_q(
    "profile_table_summary",
    oracle="""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
SELECT col, n_rows, n_nulls, n_distinct, min_value, max_value
FROM n, (
  SELECT 'o_custkey' AS col,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
         CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
         CAST(MAX(o_custkey) AS VARCHAR) AS max_value
  FROM orders
  UNION ALL
  SELECT 'o_orderdate_us',
         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
         CAST(MIN(CAST(EPOCH_US(o_orderdate) AS BIGINT)) AS VARCHAR),
         CAST(MAX(CAST(EPOCH_US(o_orderdate) AS BIGINT)) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority',
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
         MIN(o_orderpriority),
         MAX(o_orderpriority)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus',
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
         MIN(o_orderstatus),
         MAX(o_orderstatus)
  FROM orders
)
ORDER BY col
""",
)
def profile_table_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    o = o.withColumn("o_orderdate_us", ts_us_col(o, "o_orderdate"))
    cols = ["o_custkey", "o_orderdate_us", "o_orderpriority", "o_orderstatus"]
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).cast("bigint").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(*aggs)  # ONE scan, one Aggregate
    tall = one.select(
        "n_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"{c}__nulls").alias("n_nulls"),
                        F.col(f"{c}__distinct").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_value"),
                        F.col(f"{c}__max").alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("m"),
    )
    return tall.select(
        "m.col", "n_rows", "m.n_nulls", "m.n_distinct", "m.min_value", "m.max_value"
    ).orderBy("col")


# --------------------------------------------------------------------------
# Data-quality constraint audit — the validation pass a lakehouse runs on
# every ingest batch, as one query: referential integrity (lineitem rows
# whose order key has no parent — anti-join probe), domain constraints
# (status/priority outside their enum), and range constraints (negative
# or absurd prices, quantity bounds). Each rule reports its violation
# count; the fixture is clean, so nonzero anywhere means the CHECK logic
# itself regressed — which is exactly what the oracle hash pins.
# --------------------------------------------------------------------------
@_q(
    "dq_constraint_violations",
    oracle="""
SELECT * FROM (
  SELECT 'lineitem_orphan_orderkey' AS rule,
         CAST(COUNT(*) AS BIGINT) AS n_violations
  FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'orders_status_domain',
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders_price_range',
         CAST(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem_quantity_range',
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_discount_range',
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
)
ORDER BY rule
""",
)
def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    orphans = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "anti")
        .agg(F.count("*").cast("bigint").alias("n_violations"))
        .select(F.lit("lineitem_orphan_orderkey").alias("rule"), "n_violations")
    )

    def rule(df, name, cond):
        return df.agg(
            F.sum(cond.cast("long")).cast("bigint").alias("n_violations")
        ).select(F.lit(name).alias("rule"), "n_violations")

    checks = [
        orphans,
        rule(o, "orders_status_domain", ~F.col("o_orderstatus").isin("F", "O", "P")),
        rule(
            o,
            "orders_price_range",
            (F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 1_000_000),
        ),
        rule(
            li,
            "lineitem_quantity_range",
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        ),
        rule(
            li,
            "lineitem_discount_range",
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("rule")


# --------------------------------------------------------------------------
# Iterative graph dataflow — PageRank over the nation trade graph (edge
# u→v weighted by the COUNT of shipments a supplier in u sold to a
# customer in v; self-loops dropped). Three damped iterations,
# r_{k+1}(v) = 0.15 + 0.85 · Σ_{u→v} r_k(u) · w/outw, r_0 ≡ 1 — the
# canonical "loop of joins + keyed aggregation" every iterative algorithm
# (PageRank, label propagation, BP) compiles to on Spark. Each
# iteration's cross-row sum goes through DECIMAL(28,12) casts of the
# per-edge contribution (deterministic single IEEE ops per edge), so the
# result is partition-order-independent; the oracle UNROLLS the three
# iterations as chained CTEs. The graph here is nation-sized, but the
# plan — edges join rank on src, shuffle by dst, aggregate — is the exact
# shape that scales: rank state partitions by vertex, edges by src.
# --------------------------------------------------------------------------
_PR_ITER_SQL = """
SELECT n.v,
       ROUND(0.15 + 0.85 * COALESCE(CAST(SUM(
         CAST(r.rank * e.w / e.outw AS DECIMAL(28,12))) AS DOUBLE), 0.0), 12)
         AS rank
FROM nodes n
LEFT JOIN edges e ON e.dst = n.v
LEFT JOIN {prev} r ON r.v = e.src
GROUP BY n.v
"""


@_q(
    "graph_pagerank_trade",
    oracle=f"""
WITH raw AS (
  SELECT n1.n_name AS src, n2.n_name AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
  WHERE n1.n_name <> n2.n_name
  GROUP BY 1, 2
),
edges AS (
  SELECT src, dst, w,
         CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS outw
  FROM raw
),
nodes AS (
  SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst FROM edges)
),
r0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
r1 AS ({_PR_ITER_SQL.format(prev="r0")}),
r2 AS ({_PR_ITER_SQL.format(prev="r1")}),
r3 AS ({_PR_ITER_SQL.format(prev="r2")})
SELECT v AS nation, ROUND(rank, 6) AS pagerank
FROM r3
ORDER BY nation
""",
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    raw = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))),
            F.col("c_nationkey") == F.col("ck"),
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    from pyspark.sql import Window as W

    edges = raw.withColumn(
        "outw", F.sum("w").over(W.partitionBy("src")).cast("bigint")
    )
    nodes = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    rank = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(3):
        contrib = edges.join(
            rank.select(F.col("v").alias("src"), "rank"), "src"
        ).select(
            F.col("dst").alias("v"),
            (F.col("rank") * F.col("w") / F.col("outw"))
            .cast("decimal(28,12)")
            .alias("c"),
        )
        rank = (
            nodes.join(contrib, "v", "left")
            .groupBy("v")
            .agg(
                F.round(
                    F.lit(0.15)
                    + F.lit(0.85)
                    * F.coalesce(F.sum("c").cast("double"), F.lit(0.0)),
                    12,
                ).alias("rank")
            )
        )
    return rank.select(
        F.col("v").alias("nation"), F.round("rank", 6).alias("pagerank")
    ).orderBy("nation")


# --------------------------------------------------------------------------
# Equi-depth histogram — the optimizer-statistics / data-exploration
# primitive: 10 equal-population price buckets over a total order
# (price, then key — the tiebreak makes bucket assignment
# deterministic), reporting population, bounds, and exact decimal mass
# per bucket. The oracle keeps SQL-standard NTILE(10); the Spark side
# computes the SAME exact bucket WITHOUT a global window (which would be
# a single-partition total sort — fatal at 100×): distributed rank =
# range-repartition on the sort key + per-partition row_number + driver
# -side per-partition count offsets (|offsets| = #partitions, metadata
# not data), then NTILE's exact rank arithmetic — the same scale-safe
# plan as window_ntile_customer_value (windows.py).
# --------------------------------------------------------------------------
@_q(
    "agg_equidepth_histogram",
    oracle="""
WITH b AS (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS mass
FROM b
GROUP BY bucket
ORDER BY bucket
""",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranged = (
        o.repartitionByRange(
            spark.sparkContext.defaultParallelism,
            "o_totalprice",
            "o_orderkey",
        )
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = sorted(
        (r["pid"], r["c"])
        for r in ranged.groupBy("pid").agg(F.count("*").alias("c")).collect()
    )
    offsets: dict[int, int] = {}
    n_total = 0
    for pid, c in counts:
        offsets[pid] = n_total
        n_total += c
    # NTILE(10)'s exact arithmetic: with q, rem = divmod(N, 10) the first
    # rem buckets hold q+1 rows, the rest q — bucket k ends at global rank
    # k*q + min(k, rem), so rank -> bucket is a 10-arm comparison ladder.
    q, rem = divmod(n_total, 10)
    ends = [k * q + min(k, rem) for k in range(1, 10)]
    off = (
        F.create_map(*[F.lit(v) for po in offsets.items() for v in po])
        if offsets
        else F.create_map()
    )
    local_w = W.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
    rank = F.element_at(off, F.col("pid")) + F.row_number().over(local_w)
    bucket = F.lit(10)
    for k in range(9, 0, -1):
        bucket = F.when(rank <= ends[k - 1], k).otherwise(bucket)
    b = ranged.select("o_totalprice", bucket.alias("bucket"))
    hist = (
        b.groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("mass"),
        )
        .orderBy("bucket")
    )
    # Materialize the (exactly ≤10-row) histogram BEFORE unpersisting:
    # the offsets above are only valid against THIS materialization of the
    # range partitioning, and unpersisting lazily would leak the cached
    # projection for the life of a long-lived session (one leak per run).
    rows = hist.collect()
    schema = hist.schema
    ranged.unpersist()
    return local_df(spark, rows, schema)


# --------------------------------------------------------------------------
# ORC source scan (S1 family, format breadth alongside CSV/JSONL): orders
# staged as ORC and read back — columnar like parquet, so predicate
# pushdown and column pruning apply on read, unlike the row-oriented
# staging formats. Same epoch-µs time transport; the staged content
# equals the fixture, so the oracle runs on the orders view directly.
# --------------------------------------------------------------------------
@_q(
    "scan_orc_source",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
       CAST(MIN(EPOCH_US(o_orderdate)) AS BIGINT) AS first_order_us,
       CAST(MAX(EPOCH_US(o_orderdate)) AS BIGINT) AS last_order_us
FROM orders
WHERE o_orderstatus <> 'P'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def scan_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _orc_stage_dir(spark, sf_dir)
    o = spark.read.orc(path)
    return (
        o.where(F.col("o_orderstatus") != "P")  # pushed into the ORC scan
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_price"),
            F.min("o_orderdate_us").alias("first_order_us"),
            F.max("o_orderdate_us").alias("last_order_us"),
        )
        .orderBy("o_orderstatus")
    )


@session_memo
def _orc_stage_dir(spark: SparkSession, sf_dir: str) -> str:
    o_t = t(spark, sf_dir, "orders")
    o = o_t.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        ts_us_col(o_t, "o_orderdate").alias("o_orderdate_us"),
    )
    stage = session_tmpdir("orc_source_") + "/orders"
    o.write.mode("overwrite").orc(stage)
    return stage


# --------------------------------------------------------------------------
# Mergeable QUANTILE rollup — Datasketches KLL, completing the sketch
# triptych (HLL: distinct counts; theta: set algebra; KLL: quantiles).
# One KLL sketch of `value` per DAY (true partial aggregate, bytes-sized),
# MERGED to weekly — the rollup-table pattern that answers "weekly p50"
# without re-touching raw events. DuckDB can't reproduce the sketch, so
# the contract is the strongest checkable one for a quantile sketch: the
# estimate's EXACT rank (fraction of the week's rows at or below it,
# computed from raw rows) must lie within the sketch's rank-error band
# of 0.5; hashed columns are exacts + verdict, the estimate stays out.
# --------------------------------------------------------------------------
@_q(
    "agg_kll_quantile_rollup",
    oracle=f"""
WITH e AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CAST(EPOCH_US(ts) AS BIGINT) // {_DAY_US} AS day
  FROM events
)
SELECT day // 7 AS week,
       CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS median_rank_ok
FROM e
GROUP BY day // 7
ORDER BY week
""",
)
def agg_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.col("value").cast("double").alias("v"), ts_us_col(ev).alias("_us")
    ).select("v", F.expr(f"_us div {_DAY_US}").alias("day"))
    daily = e.groupBy("day").agg(
        F.expr("kll_sketch_agg_double(v)").alias("sk"),
        F.count("*").cast("bigint").alias("n"),
    )
    # kll_sketch_merge_double is a binary scalar, so the weekly merge is
    # a fold over the week's daily sketches (first sketch seeds the
    # accumulator, the rest merge in — 6 merges per week)
    weekly = (
        daily.groupBy(F.expr("day div 7").alias("week"))
        .agg(
            F.collect_list("sk").alias("sks"),
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("n").cast("bigint").alias("n_events"),
        )
        .select(
            "week",
            "n_days",
            "n_events",
            F.expr(
                "kll_sketch_get_quantile_double("
                "  aggregate(slice(sks, 2, size(sks) - 1), sks[0],"
                "            (acc, x) -> kll_sketch_merge_double(acc, x)),"
                "  0.5)"
            ).alias("est_p50"),
        )
    )
    # exact rank of the estimate, from raw rows (broadcast the tiny
    # weekly table into the rank join — events never reshuffle)
    ranked = (
        e.select(F.expr("day div 7").alias("week"), "v")
        .join(F.broadcast(weekly.select("week", "est_p50")), "week")
        .groupBy("week")
        .agg(
            (
                F.sum((F.col("v") <= F.col("est_p50")).cast("long"))
                / F.count("*")
            ).alias("rank_of_est")
        )
    )
    return (
        weekly.join(ranked, "week")
        .select(
            "week",
            "n_days",
            "n_events",
            # default KLL k=200 → rank error ~1.65%; 5% band is generous
            (F.abs(F.col("rank_of_est") - 0.5) <= 0.05).alias("median_rank_ok"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# Nearest as-of join — the third direction of operators/asof.py: each
# purchase matches the user's CLOSEST error event in time, backward or
# forward (exact ties go backward), with the matched direction reported —
# the root-cause-correlation shape ("which error surrounds this
# purchase"). Event times interleave, so both directions genuinely fire.
# Plan stays one shuffle on the key: the forward carry is a second Window
# over the same partitioning (a second in-partition sort, never a second
# exchange).
# --------------------------------------------------------------------------
@_q(
    "join_asof_nearest_event_order",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, CAST(EPOCH_US(ts) AS BIGINT) AS t, event_type, value
  FROM events WHERE user_id < 100
), l AS (
  SELECT user_id AS k, t, 1 AS side, CAST(NULL AS BIGINT) AS tb,
         event_id, CAST(NULL AS BIGINT) AS error_event_id,
         CAST(NULL AS DOUBLE) AS error_value, CAST(NULL AS BIGINT) AS rt
  FROM e WHERE event_type = 'purchase'
), r AS (
  SELECT user_id AS k, t, 0 AS side, event_id AS tb,
         CAST(NULL AS BIGINT) AS event_id, event_id AS error_event_id,
         value AS error_value, t AS rt
  FROM e WHERE event_type = 'error'
), u AS (
  SELECT * FROM l UNION ALL BY NAME SELECT * FROM r
), carried AS (
  SELECT *,
    LAST_VALUE(error_event_id IGNORE NULLS) OVER wb AS b_id,
    LAST_VALUE(error_value IGNORE NULLS) OVER wb AS b_v,
    LAST_VALUE(rt IGNORE NULLS) OVER wb AS b_rt,
    FIRST_VALUE(error_event_id IGNORE NULLS) OVER wf AS f_id,
    FIRST_VALUE(error_value IGNORE NULLS) OVER wf AS f_v,
    FIRST_VALUE(rt IGNORE NULLS) OVER wf AS f_rt
  FROM u
  WINDOW wb AS (PARTITION BY k ORDER BY t, side, tb ASC NULLS LAST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY k ORDER BY t, 1 - side, tb ASC NULLS LAST
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
), picked AS (
  SELECT event_id, k, t,
         b_rt IS NULL OR (f_rt IS NOT NULL AND (f_rt - t) < (t - b_rt)) AS use_f,
         b_id, b_v, b_rt, f_id, f_v, f_rt
  FROM carried WHERE side = 1
)
SELECT event_id, k AS user_id, t AS ts_us,
       CASE WHEN use_f THEN f_id ELSE b_id END AS error_event_id,
       CASE WHEN use_f THEN f_v ELSE b_v END AS error_value,
       CASE WHEN b_rt IS NULL AND f_rt IS NULL THEN NULL
            WHEN use_f THEN 'F' ELSE 'B' END AS matched_dir
FROM picked
ORDER BY event_id
""",
)
def join_asof_nearest_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.operators.asof import asof_join

    ev_raw = t(spark, sf_dir, "events")
    e = ev_raw.where(F.col("user_id") < 100).select(
        "event_id",
        F.col("user_id").alias("k"),
        ts_us_col(ev_raw).alias("ts_us"),
        "event_type",
        "value",
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "k", "ts_us"
    )
    errors = e.where(F.col("event_type") == "error").select(
        "k",
        F.col("ts_us").alias("err_t"),
        F.col("event_id").alias("error_event_id"),
        F.col("value").alias("error_value"),
    )
    joined = asof_join(
        purchases,
        errors,
        key="k",
        left_time="ts_us",
        right_time="err_t",
        payload=["error_event_id", "error_value"],
        tiebreak="error_event_id",
        direction="nearest",
    )
    return joined.select(
        "event_id",
        F.col("k").alias("user_id"),
        "ts_us",
        "error_event_id",
        "error_value",
        F.col("_asof_direction").alias("matched_dir"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Count-min frequency sketch — the fourth mergeable sketch (HLL: distinct;
# theta: set algebra; KLL: quantiles; CMS: per-key frequency). One
# fixed-size sketch of the event user stream answers "how often did key k
# appear" without a per-key groupBy; the driver decodes the aggregated
# sketch (a few KB — the same A1-class scalar read as a watermark) and the
# verdict contract is CMS's guarantee: NEVER an underestimate, and over-
# estimate bounded by eps·N. Hashed columns are the exact counts + the
# verdict; the raw estimate stays out of the hash (same contract as the
# HLL/KLL/theta queries).
#
# Scale: count_min_sketch is a true partial aggregate (map-side sketches
# merged pairwise), so the shuffle carries one sketch per partition, not
# the key space; at 100 TB this replaces a billion-group aggregation with
# a constant-size rollup per slice.
# --------------------------------------------------------------------------
_CMS_EPS = 0.001
_CMS_CONF = 0.99
_CMS_SEED = 42
_CMS_PROBE_KEYS = 10  # user_id < 10


@_q(
    "agg_cms_frequency",
    oracle=f"""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS within_bound
FROM events
WHERE user_id < {_CMS_PROBE_KEYS}
GROUP BY user_id
ORDER BY user_id
""",
)
def agg_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = t(spark, sf_dir, "events")
    sk_in = ev.select("user_id")
    # single-file fixture → single-task CMS partial aggregate (0.8 s on
    # one core); up-partition the one projected column when the scan is
    # narrower than the cores (no-op at real scale — _norm_table pattern,
    # guide §2.5). CMS merge is elementwise counter addition with a fixed
    # seed: partitioning cannot change the sketch.
    cores = spark.sparkContext.defaultParallelism
    if len(sk_in.inputFiles()) < cores:
        sk_in = sk_in.repartition(cores)
    row = sk_in.agg(
        F.expr(
            f"count_min_sketch(user_id, {_CMS_EPS}d, {_CMS_CONF}d, {_CMS_SEED})"
        ).alias("sk"),
        F.count("*").alias("n"),
    ).first()
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(row["sk"]))
    )
    margin = int(math.ceil(_CMS_EPS * row["n"]))
    est = local_df(spark, 
        [(k, int(cms.estimateCount(k))) for k in range(_CMS_PROBE_KEYS)],
        "user_id long, est long",
    )
    exact = (
        ev.where(F.col("user_id") < _CMS_PROBE_KEYS)
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    return (
        exact.join(F.broadcast(est), "user_id")
        .select(
            "user_id",
            "n_events",
            (
                (F.col("est") >= F.col("n_events"))
                & (F.col("est") <= F.col("n_events") + F.lit(margin))
            ).alias("within_bound"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Plain-text source scan (S1 family, format breadth): documents staged as
# raw text lines — the WET/one-doc-per-line ingest shape every web-corpus
# pipeline starts from — read back with spark.read.text and parsed
# IN-PLAN: doc_id \\x1f text (unit separator — absent from the corpus by
# construction, asserted at stage time). spark.read.text is the only scan
# with zero parsing cost at read; the split happens in codegen, so the
# parse IS the first projection. The staged content equals the fixture,
# so the oracle runs on the documents view directly.
# --------------------------------------------------------------------------
@_q(
    "scan_text_source",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEN({{toks}})) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
""".format(toks="LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')"),
)
def scan_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.queries.textops import toks

    path = _text_stage_dir(spark, sf_dir)
    lines = spark.read.text(path)
    sep = "\x1f"
    d = lines.select(
        F.split_part(F.col("value"), F.lit(sep), F.lit(1))
        .cast("bigint")
        .alias("doc_id"),
        F.split_part(F.col("value"), F.lit(sep), F.lit(2)).alias("source"),
        # text may itself be empty — element_at past the last separator
        # would fail; substring_index keeps everything after the 2nd sep.
        F.expr(f"substring(value, length(split_part(value, '{sep}', 1)) + "
               f"length(split_part(value, '{sep}', 2)) + 3)").alias("text"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(toks())).cast("bigint").alias("total_tokens"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .orderBy("source")
    )


@session_memo
def _text_stage_dir(spark: SparkSession, sf_dir: str) -> str:
    d = t(spark, sf_dir, "documents")
    sep = "\x1f"
    bad = d.where(
        F.col("text").contains(sep)
        | F.col("source").contains(sep)
        | F.col("text").contains("\n")
    ).count()
    if bad:
        raise AssertionError(
            f"{bad} documents contain the record separator or newlines — "
            "the one-doc-per-line staging contract does not hold"
        )
    stage = session_tmpdir("text_source_") + "/docs"
    d.select(
        F.concat_ws(sep, F.col("doc_id"), F.col("source"), F.col("text"))
        .alias("value")
    ).write.mode("overwrite").text(stage)
    return stage


# --------------------------------------------------------------------------
# Distribution-drift audit — the data-quality gate a daily ingest runs
# before publishing: per-day mean/stddev of the event value stream from
# exact decimal power sums, then each day tested against the PREVIOUS
# day via lag: |mean_t − mean_{t−1}| > _DRIFT_Z · se, with se the pooled
# standard error. Catches the silent unit change / producer bug that a
# schema check can't. Everything is exact-decimal or IEEE-identical, so
# the flag itself hash-verifies.
#
# Scale: one map-side-combinable aggregate to |days| rows, one window
# over that dimension-sized table. The raw stream is touched once.
# --------------------------------------------------------------------------
_DRIFT_Z = 2.0


@_q(
    "dq_daily_value_drift",
    oracle=f"""
WITH daily AS (
  SELECT CAST(EPOCH_US(ts) AS BIGINT) // {_DAY_US} AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
              AS DOUBLE) AS s2
  FROM events GROUP BY 1
), stats AS (
  SELECT day, n,
         s1 / n AS mean,
         SQRT((s2 - s1 * s1 / n) / n) AS sd
  FROM daily
), lagged AS (
  SELECT *, LAG(mean) OVER w AS prev_mean, LAG(sd) OVER w AS prev_sd,
         LAG(n) OVER w AS prev_n
  FROM stats WINDOW w AS (ORDER BY day)
)
SELECT day, n, ROUND(mean, 6) AS mean, ROUND(sd, 6) AS sd,
       CASE WHEN prev_mean IS NULL THEN NULL
            ELSE ABS(mean - prev_mean) >
                 {_DRIFT_Z} * SQRT(sd * sd / n + prev_sd * prev_sd / prev_n)
       END AS drifted
FROM lagged
ORDER BY day
""",
)
def dq_daily_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,6)")
    daily = (
        ev.select(ts_us_col(ev).alias("_us"), "value")
        .groupBy(F.expr(f"_us div {_DAY_US}").cast("bigint").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(vdec).cast("double").alias("s1"),
            F.sum(vdec * vdec).cast("double").alias("s2"),
        )
    )
    stats = daily.select(
        "day",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")).alias("sd"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("day")
    lagged = stats.select(
        "*",
        F.lag("mean").over(w).alias("prev_mean"),
        F.lag("sd").over(w).alias("prev_sd"),
        F.lag("n").over(w).alias("prev_n"),
    )
    se = F.sqrt(
        F.col("sd") * F.col("sd") / F.col("n")
        + F.col("prev_sd") * F.col("prev_sd") / F.col("prev_n")
    )
    return lagged.select(
        "day",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("sd", 6).alias("sd"),
        F.when(F.col("prev_mean").isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.abs(F.col("mean") - F.col("prev_mean")) > _DRIFT_Z * se)
        .alias("drifted"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Deterministic MODE per group — most frequent order priority per order
# status, with the tie broken lexicographically. Built as count + rank
# rather than Spark's `mode()` (whose tie winner is unspecified), so both
# engines agree for any input. One map-side-combinable count over the
# (status, priority) grid, then a rank over that dimension-sized table.
# --------------------------------------------------------------------------
@_q(
    "agg_mode_order_priority",
    oracle="""
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                               ORDER BY n DESC, o_orderpriority) AS rnk
  FROM c
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_orders
FROM r WHERE rnk = 1
ORDER BY o_orderstatus
""",
)
def agg_mode_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), "o_orderpriority"
    )
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Ordered string aggregation (LISTAGG ... WITHIN GROUP, SQL:2016 — added to
# Spark in 4.0): the "denormalize the dimension" shape every report query
# uses. Per region, nations concatenated in (customer count DESC, name)
# order — the multi-key WITHIN GROUP ordering is the part ad-hoc
# concat_ws(collect_list()) gets nondeterministically wrong. Scale shape:
# the LEFT JOIN's right side aggregates to nation cardinality BEFORE the
# listagg, so the string agg runs over a dimension-sized input; customer
# never shuffles on anything but its own group-by key.
# --------------------------------------------------------------------------
@_q(
    "agg_listagg_ordered",
    oracle="""
WITH nc AS (
  SELECT n.n_regionkey, n.n_name, CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers
  FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT r.r_name AS region,
       string_agg(nc.n_name, ',' ORDER BY nc.n_customers DESC, nc.n_name)
         AS nations_by_customers,
       CAST(SUM(nc.n_customers) AS BIGINT) AS n_customers
FROM region r JOIN nc ON nc.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
""",
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.tables import register_views

    register_views(spark, sf_dir, names=("region", "nation", "customer"))
    return spark.sql(
        """
        WITH nc AS (
          SELECT n.n_regionkey, n.n_name,
                 CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers
          FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_regionkey, n.n_name
        )
        SELECT r.r_name AS region,
               listagg(nc.n_name, ',')
                 WITHIN GROUP (ORDER BY nc.n_customers DESC, nc.n_name)
                 AS nations_by_customers,
               CAST(SUM(nc.n_customers) AS BIGINT) AS n_customers
        FROM region r JOIN nc ON nc.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        ORDER BY r.r_name
        """
    )


# --------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM): joining on a
# DERIVED nullable key — here a JSON attribute bucket where the NULL
# bucket ("attribute absent or out of domain") must match itself, which a
# plain equi-join silently drops. Scale shape: each side pre-aggregates to
# key cardinality (≤6 rows) BEFORE the join, so the null-safe comparison —
# which Spark still hash-partitions, treating NULL as an ordinary key —
# runs over two dimension-sized inputs instead of fanning out the raw
# event pairs.
# --------------------------------------------------------------------------
@_q(
    "join_null_safe_eq",
    oracle="""
WITH keyed AS (
  SELECT event_type,
         NULLIF(CAST(json_extract_string(props, '$.k') AS INT) % 5, 0) AS kb
  FROM events
), clicks AS (
  SELECT kb, CAST(COUNT(*) AS BIGINT) AS n_clicks
  FROM keyed WHERE event_type = 'click' GROUP BY kb
), purchases AS (
  SELECT kb, CAST(COUNT(*) AS BIGINT) AS n_purchases
  FROM keyed WHERE event_type = 'purchase' GROUP BY kb
)
SELECT c.kb AS key_bucket, c.n_clicks, p.n_purchases
FROM clicks c JOIN purchases p ON c.kb IS NOT DISTINCT FROM p.kb
ORDER BY key_bucket NULLS FIRST
""",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    kb = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 5, F.lit(0)
    ).alias("kb")
    keyed = ev.select("event_type", kb)
    clicks = (
        keyed.where(F.col("event_type") == "click")
        .groupBy("kb")
        .agg(F.count("*").cast("bigint").alias("n_clicks"))
    )
    purchases = (
        keyed.where(F.col("event_type") == "purchase")
        .groupBy("kb")
        .agg(F.count("*").cast("bigint").alias("n_purchases"))
    )
    return (
        clicks.join(purchases, clicks["kb"].eqNullSafe(purchases["kb"]))
        .select(
            clicks["kb"].alias("key_bucket"), "n_clicks", "n_purchases"
        )
        .orderBy(F.asc_nulls_first("key_bucket"))
    )


# --------------------------------------------------------------------------
# Month-over-month growth — the KPI shape every revenue dashboard runs:
# aggregate to a month grid, then LAG over the (tiny) aggregate for the
# deltas. Scale shape: the window runs over #months rows, never over the
# fact table — the only fact-table cost is one partial+final aggregate.
# Growth ratios divide two exact-decimal-derived doubles (bit-identical
# in both engines), rounded to 6 per the determinism conventions.
# --------------------------------------------------------------------------
@_q(
    "agg_mom_growth",
    oracle=f"""
WITH m AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 100
              + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         {dsum_sql("o_totalprice", "revenue")}
  FROM orders
  GROUP BY 1
)
SELECT ym, n_orders, revenue,
       ROUND((revenue - LAG(revenue) OVER (ORDER BY ym))
             / LAG(revenue) OVER (ORDER BY ym), 6) AS mom_growth
FROM m
ORDER BY ym
""",
)
def agg_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("ym")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )
    w = Window.orderBy("ym")
    return (
        m.withColumn(
            "mom_growth",
            F.round(
                (F.col("revenue") - F.lag("revenue").over(w))
                / F.lag("revenue").over(w),
                6,
            ),
        )
        .orderBy("ym")
    )


# --------------------------------------------------------------------------
# Triangle counting over the nation trade graph — the second classic
# iterative-graph shape (after PageRank above), and the standard cluster-
# coefficient building block. Uses the ordered-edge convention: undirected
# edges canonicalized to a < b, triangles found as the 3-chain
# (a,b)(b,c)(a,c) with a < b < c, so each triangle is produced exactly
# once and the join fan-out is halved. Scale note: on a big graph the
# ordering would be by (degree, id) — the standard heavy-hitter guard that
# bounds each vertex's join fan-out by its ordered out-degree; on the
# 25-node trade graph plain name ordering pins the same plan shape.
# --------------------------------------------------------------------------
@_q(
    "graph_triangle_trade",
    oracle="""
WITH raw AS (
  SELECT DISTINCT n1.n_name AS src, n2.n_name AS dst
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
  WHERE n1.n_name <> n2.n_name
),
e AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM raw
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
pernode AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS v FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY v
)
SELECT v AS nation, n_triangles FROM pernode
ORDER BY n_triangles DESC, nation
""",
)
def graph_triangle_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    raw = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(
                n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))
            ),
            F.col("s_nationkey") == F.col("sk"),
        )
        .join(
            F.broadcast(
                n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))
            ),
            F.col("c_nationkey") == F.col("ck"),
        )
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    e = raw.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("e3a"), F.col("b").alias("e3b"))
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("b2a"))
        .join(
            e3,
            (F.col("e3a") == F.col("e1.a")) & (F.col("e3b") == F.col("c")),
        )
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), "c")
    )
    pernode = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    return pernode.select(F.col("v").alias("nation"), "n_triangles").orderBy(
        F.desc("n_triangles"), "nation"
    )


# --------------------------------------------------------------------------
# Interval-overlap join — the genomics/observability classic: two interval
# sets, find same-key overlapping pairs. Distinct from the point-in-
# interval range join above (`join_range_event_order_window`): BOTH sides
# are intervals. Scale design: each interval replicates to the fixed-width
# bins it touches, the join runs on (user, bin) — never all-pairs — and
# the canonical-bin guard (pair reported only in the bin containing the
# overlap's START) makes each pair appear exactly once WITHOUT a distinct:
# the dedup that usually costs a shuffle is free. View sessions
# [ts, ts+30min] against error windows [ts, ts+10min], per user.
# --------------------------------------------------------------------------
_IVL_BIN_US = 1_800_000_000  # 30-minute bins = the longer interval width
_IVL_VIEW_US = 1_800_000_000
_IVL_ERR_US = 600_000_000


@_q(
    "join_interval_overlap",
    oracle=f"""
WITH e AS (
  SELECT event_id, user_id, event_type, CAST(EPOCH_US(ts) AS BIGINT) AS ts_us
  FROM events
),
v AS (
  SELECT user_id, event_id AS v_id, ts_us AS v_start,
         ts_us + {_IVL_VIEW_US} AS v_end
  FROM e WHERE event_type = 'view'
),
x AS (
  SELECT user_id, event_id AS x_id, ts_us AS x_start,
         ts_us + {_IVL_ERR_US} AS x_end
  FROM e WHERE event_type = 'error'
),
pairs AS (
  SELECT v.user_id, v.v_id, x.x_id,
         LEAST(v.v_end, x.x_end) - GREATEST(v.v_start, x.x_start) AS overlap_us
  FROM v JOIN x ON v.user_id = x.user_id
   AND v.v_start <= x.x_end AND x.x_start <= v.v_end
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_overlaps,
       CAST(SUM(overlap_us) AS BIGINT) AS total_overlap_us,
       CAST(MIN(v_id) AS BIGINT) AS first_view_id
FROM pairs
GROUP BY user_id
ORDER BY user_id
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.tables import with_ts_us

    ev = with_ts_us(t(spark, sf_dir, "events"))
    v = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("v_id"),
        F.col("ts").alias("v_start"),
        (F.col("ts") + F.lit(_IVL_VIEW_US)).alias("v_end"),
    )
    x = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("x_user_id"),
        F.col("event_id").alias("x_id"),
        F.col("ts").alias("x_start"),
        (F.col("ts") + F.lit(_IVL_ERR_US)).alias("x_end"),
    )
    bin_of = lambda col: (F.col(col) / F.lit(_IVL_BIN_US)).cast("bigint")  # noqa: E731
    vb = v.withColumn(
        "bin",
        F.explode(F.sequence(bin_of("v_start"), bin_of("v_end"))),
    )
    xb = x.withColumn(
        "bin",
        F.explode(F.sequence(bin_of("x_start"), bin_of("x_end"))),
    )
    pairs = (
        vb.join(
            xb,
            (F.col("user_id") == F.col("x_user_id"))
            & (vb["bin"] == xb["bin"])
            & (F.col("v_start") <= F.col("x_end"))
            & (F.col("x_start") <= F.col("v_end")),
        )
        # canonical-bin guard: emit the pair only in the bin holding the
        # overlap's start, so replicated bins can't double-report
        .where(
            vb["bin"]
            == (
                F.greatest("v_start", "x_start") / F.lit(_IVL_BIN_US)
            ).cast("bigint")
        )
        .select(
            "user_id",
            "v_id",
            "x_id",
            (
                F.least("v_end", "x_end") - F.greatest("v_start", "x_start")
            ).alias("overlap_us"),
        )
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_overlaps"),
            F.sum("overlap_us").cast("bigint").alias("total_overlap_us"),
            F.min("v_id").cast("bigint").alias("first_view_id"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Observation API (df.observe) — free-rider data-quality counters: audit
# metrics computed ON THE SAME PASS as the query's own work, no second
# scan (the production pattern: every write job observes row counts and
# violation tallies for its lineage system at zero marginal cost). The
# observe node's metrics are collected driver-side after the action and
# returned next to the query's own aggregate; the oracle recomputes all
# four from the fixture, so the green hash certifies the metric values
# themselves — not just that the API ran.
# --------------------------------------------------------------------------
@_q(
    "scan_observe_metrics",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discounted,
       {dsum_sql("l_quantity", "qty_sum")},
       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags
FROM lineitem
""",
)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    li = t(spark, sf_dir, "lineitem")
    obs = Observation("audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
        .cast("bigint")
        .alias("n_discounted"),
        dsum(F.col("l_quantity")).alias("qty_sum"),
    )
    # the query's "own work": a distinct count that consumes every row,
    # pulling the full table through the observe node in one pass
    n_flags = (
        observed.agg(F.countDistinct("l_returnflag").cast("bigint")).first()[0]
    )
    m = obs.get
    return local_df(spark, 
        [(m["n_rows"], m["n_discounted"], m["qty_sum"], n_flags)],
        "n_rows bigint, n_discounted bigint, qty_sum double, n_flags bigint",
    )


# --------------------------------------------------------------------------
# Weighted median — the importance-weighted quantile every sampling
# pipeline needs (median price weighted by shipped quantity, here), for
# which neither engine has an exact builtin: computed as the classic
# cumulative-weight rule — sort the group, take the first value whose
# running weight reaches half the total. Exact decimal weights make the
# comparison tie-free cross-engine, and the ORDER BY carries the unique
# (orderkey, linenumber) tiebreak. One window exchange per group key.
# --------------------------------------------------------------------------
@_q(
    "agg_weighted_median_price",
    oracle="""
WITH w AS (
  SELECT l_returnflag, l_extendedprice AS p,
         CAST(l_quantity AS DECIMAL(18,6)) AS wt,
         l_orderkey, l_linenumber
  FROM lineitem
), c AS (
  SELECT *,
         SUM(wt) OVER (PARTITION BY l_returnflag
                       ORDER BY p, l_orderkey, l_linenumber) AS cw,
         SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
  FROM w
)
SELECT l_returnflag,
       MIN(p) AS weighted_median,
       CAST(MIN(tw) AS DOUBLE) AS total_weight
FROM c WHERE cw * 2 >= tw
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("p"),
        F.col("l_quantity").cast("decimal(18,6)").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    wc = Window.partitionBy("l_returnflag").orderBy(
        "p", "l_orderkey", "l_linenumber"
    )
    wt_all = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag",
        "p",
        F.sum("wt").over(wc).alias("cw"),
        F.sum("wt").over(wt_all).alias("tw"),
    )
    return (
        c.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("p").alias("weighted_median"),
            F.min("tw").cast("double").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Bitwise aggregate fold (BIT_AND / BIT_OR / BIT_XOR + bit_count) — the
# flag-mask algebra ops pipelines use for permission masks and feature
# flags, and the order-independent XOR checksum used to cheaply compare
# table contents across systems. All integer-exact, all map-side
# combinable (each is associative+commutative), so the plan is a plain
# partial+final aggregate.
# --------------------------------------------------------------------------
@_q(
    "scalar_bitwise_fold",
    oracle="""
SELECT event_type,
       CAST(BIT_XOR(event_id) AS BIGINT) AS id_xor_checksum,
       CAST(BIT_AND(event_id) AS BIGINT) AS id_and_mask,
       CAST(BIT_OR(event_id % 256) AS BIGINT) AS low_byte_or,
       CAST(SUM(bit_count(event_id)) AS BIGINT) AS total_set_bits
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def scalar_bitwise_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_xor("event_id").cast("bigint").alias("id_xor_checksum"),
            F.bit_and("event_id").cast("bigint").alias("id_and_mask"),
            F.bit_or(F.col("event_id") % 256)
            .cast("bigint")
            .alias("low_byte_or"),
            F.sum(F.bit_count("event_id")).cast("bigint").alias("total_set_bits"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Chi-square independence audit — the categorical drift test a data-
# quality suite runs next to the numeric z-test (dq_daily_value_drift):
# is event_type independent of hour-of-day? Observed counts come from one
# exact integer aggregate; expected = row·col/N and each cell's
# (O−E)²/E are computed with identical IEEE ops from those exact ints, so
# per-cell values are bit-identical cross-engine; the statistic then sums
# the cells as ROUND-6 DECIMALs — an exact, order-free sum of identical
# summands (the float-sum-ordering trap this codebase's conventions
# exist to avoid). Output: per-type chi² contribution + dof.
# --------------------------------------------------------------------------
@_q(
    "dq_chi2_type_hour",
    oracle="""
WITH o AS (
  SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, hr, obs,
         CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
         CAST(SUM(obs) OVER (PARTITION BY hr) AS BIGINT) AS col_n,
         CAST(SUM(obs) OVER () AS BIGINT) AS n
  FROM o
),
cells AS (
  SELECT event_type, hr,
         CAST(ROUND(
           (obs - CAST(row_n AS DOUBLE) * col_n / n)
           * (obs - CAST(row_n AS DOUBLE) * col_n / n)
           / (CAST(row_n AS DOUBLE) * col_n / n), 6) AS DECIMAL(18,6)) AS cell
  FROM tot
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(cell) AS DOUBLE) AS chi2_contribution
FROM cells
GROUP BY event_type
ORDER BY event_type
""",
)
def dq_chi2_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_glue_data_lake_spark.tables import ts_us_col

    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("event_time", F.timestamp_micros(ts_us_col(ev)))
    o = (
        ev.groupBy(
            "event_type", F.hour("event_time").cast("bigint").alias("hr")
        )
        .agg(F.count("*").cast("bigint").alias("obs"))
    )
    tot = o.select(
        "event_type",
        "hr",
        "obs",
        F.sum("obs").over(Window.partitionBy("event_type")).alias("row_n"),
        F.sum("obs").over(Window.partitionBy("hr")).alias("col_n"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    expected = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    # (O-E)*(O-E), not POWER(x, 2): libm pow is not guaranteed
    # correctly-rounded identically across engines; plain multiply is.
    dev = F.col("obs") - expected
    cell = F.round(dev * dev / expected, 6).cast("decimal(18,6)")
    return (
        tot.select("event_type", "hr", cell.alias("cell"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.sum("cell").cast("double").alias("chi2_contribution"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# As-of join with TOLERANCE (pandas merge_asof(tolerance=...)): the
# staleness bound every feature-store lookup needs — a feature older than
# the budget is worse than no feature (training would learn from expired
# state). Same single-shuffle union-and-carry as the other as-of
# directions; the bound is a scan-side predicate on the carried right
# time, never a join condition, so the plan is unchanged. Events match
# their user's latest order only if it is at most 30 days old.
# --------------------------------------------------------------------------
_ASOF_TOL_US = 30 * 86_400_000_000  # 30 days


@_q(
    "join_asof_tolerance",
    oracle=f"""
WITH l AS (
  SELECT user_id AS k, CAST(EPOCH_US(ts) AS BIGINT) AS t, 1 AS side,
         CAST(NULL AS BIGINT) AS tb,
         event_id, CAST(NULL AS BIGINT) AS o_orderkey,
         CAST(NULL AS DOUBLE) AS o_totalprice,
         CAST(NULL AS BIGINT) AS ort
  FROM events WHERE user_id < 50
), r AS (
  SELECT o_custkey AS k, CAST(EPOCH_US(o_orderdate) AS BIGINT) AS t, 0 AS side,
         o_orderkey AS tb,
         CAST(NULL AS BIGINT) AS event_id,
         o_orderkey, o_totalprice,
         CAST(EPOCH_US(o_orderdate) AS BIGINT) AS ort
  FROM orders WHERE o_custkey < 50
), u AS (
  SELECT * FROM l UNION ALL BY NAME SELECT * FROM r
), carried AS (
  SELECT *,
    LAST_VALUE(o_orderkey IGNORE NULLS) OVER w AS c_orderkey,
    LAST_VALUE(o_totalprice IGNORE NULLS) OVER w AS c_totalprice,
    LAST_VALUE(ort IGNORE NULLS) OVER w AS c_t
  FROM u
  WINDOW w AS (PARTITION BY k ORDER BY t, side, tb ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, k AS user_id, t AS ts_us,
       CASE WHEN t - c_t <= {_ASOF_TOL_US} THEN c_orderkey END AS asof_orderkey,
       CASE WHEN t - c_t <= {_ASOF_TOL_US} THEN c_totalprice END AS asof_totalprice
FROM carried WHERE side = 1
ORDER BY event_id
""",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_glue_data_lake_spark.operators.asof import asof_join

    ev_raw = t(spark, sf_dir, "events")
    ev = ev_raw.where(F.col("user_id") < 50).select(
        "event_id", F.col("user_id").alias("k"),
        ts_us_col(ev_raw).alias("ts_us"),
    )
    o_raw = t(spark, sf_dir, "orders")
    orders = o_raw.where(F.col("o_custkey") < 50).select(
        F.col("o_custkey").alias("k"),
        ts_us_col(o_raw, "o_orderdate").alias("order_t"),
        "o_orderkey",
        "o_totalprice",
    )
    joined = asof_join(
        ev,
        orders,
        key="k",
        left_time="ts_us",
        right_time="order_t",
        payload=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
        tolerance=_ASOF_TOL_US,
    )
    return joined.select(
        "event_id",
        F.col("k").alias("user_id"),
        "ts_us",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_totalprice").alias("asof_totalprice"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Rank WITHIN rollup levels (TPC-DS q67's shape): the "top performers at
# every aggregation level" report — one ROLLUP pass computes all levels,
# then a rank window partitioned by grouping level picks the top 3 of
# each. The window runs over the rollup OUTPUT (levels × groups rows),
# never re-scanning the fact table — the composite the naive per-level
# UNION ALL rewrite pays L scans for.
# --------------------------------------------------------------------------
@_q(
    "agg_rollup_ranked",
    oracle=f"""
WITH r AS (
  SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         COALESCE(o_orderpriority, 'ALL') AS priority,
         CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
              AS INT) AS lvl,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         {dsum_sql("o_totalprice", "revenue")}
  FROM orders
  GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
)
SELECT * FROM (
  SELECT *, CAST(RANK() OVER (PARTITION BY lvl
                              ORDER BY revenue DESC, status, priority)
                 AS BIGINT) AS rnk
  FROM r
) WHERE rnk <= 3
ORDER BY lvl, rnk, status, priority
""",
)
def agg_rollup_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    r = (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            )
            .cast("int")
            .alias("lvl"),
            F.count("*").cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "lvl",
            "n_orders",
            "revenue",
        )
    )
    w = Window.partitionBy("lvl").orderBy(
        F.desc("revenue"), "status", "priority"
    )
    return (
        r.withColumn("rnk", F.rank().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .orderBy("lvl", "rnk", "status", "priority")
    )
