"""Registry plumbing shared by the query modules.

Contract (driver-enforced): every query is ``fn(spark, sf_dir) ->
DataFrame``; the oracle is ANSI SQL DuckDB runs against pre-registered
views of the same parquet (region nation customer supplier part orders
lineitem events documents embeddings). Column names must match exactly —
the compare sorts columns by name before hashing.

Cross-engine determinism rules used throughout (SURVEY.md §5/§7 risks):
- money/quantity sums: cast each element to DECIMAL(18,6), SUM exactly,
  cast the total to DOUBLE. Doubles can never sit exactly on a scale≥1
  decimal rounding boundary (10^-k·(2j+1)/2 is non-dyadic), so the cast is
  tie-free and both engines produce bit-identical totals regardless of
  aggregation order.
- averages: exact decimal SUM ÷ COUNT in double, then ROUND(x, 6) —
  deterministic because the dividend is exact.
- every top-k / LIMIT carries a unique tiebreaker in the ORDER BY.
- no approx functions on the oracle path (approx_count_distinct et al.
  get rows-only checks).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from aws_glue_data_lake_spark.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Registry:
    queries: dict[str, QueryFn] = field(default_factory=dict)
    oracles: dict[str, str] = field(default_factory=dict)

    def query(self, name: str, oracle: str | None = None):
        """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name`` with an
        optional DuckDB oracle (omit only for non-SQL-expressible ops)."""

        def deco(fn: QueryFn) -> QueryFn:
            if name in self.queries:
                raise ValueError(f"duplicate query name {name!r}")
            self.queries[name] = fn
            if oracle is not None:
                self.oracles[name] = oracle.strip()
            return fn

        return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand fixture-table scan."""
    return load_table(spark, sf_dir, name)


# SQL fragment: exact decimal sum of an expression, reported as DOUBLE.
def dsum_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18, 6))) AS DOUBLE) AS {alias}"


# SQL fragment: deterministic average (exact decimal sum / count).
def davg_sql(expr: str, alias: str) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18, 6))) AS DOUBLE)"
        f" / COUNT(*), 6) AS {alias}"
    )
