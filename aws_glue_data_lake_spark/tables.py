"""Parquet table loader + catalog registration.

Replaces the reference's Glue-catalog source scan
(``get_source_table``, icberg/iceberg_tables.py:54-58 /
delta/delta_tables.py:76-80): ``spark.read.parquet`` with optional
``mergeSchema`` (the DynamicFrame's schema-union behavior,
icberg/iceberg_tables.py:23).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, LongType, TimestampNTZType, TimestampType

from aws_glue_data_lake_spark.session import session_memo

#: Driver-fixture tables (TESTDATA.md) — one parquet file per table.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@session_memo
def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    merge_schema: bool = False,
) -> DataFrame:
    """Scan one fixture table. ``merge_schema`` union-widens schemas across
    files, matching the reference's ``{"mergeSchema": "true"}`` read option.

    Memoized per session: a DataFrame is an immutable logical plan, so
    handing the same one to every caller is free sharing, while building a
    fresh one costs a schema-inference/footer job (~0.05-0.4 s) that nearly
    every registered query repaid per table reference. No data is cached —
    each action still scans the parquet."""
    # If a producer wrote event time as parquet TIMESTAMP(NANOS), Spark
    # rejects the file unless nanos are read as int64 — keep the escape
    # hatch on (harmless for µs files). Set here (not only in our session
    # factory) so driver-provided sessions work too. Consumers must NOT
    # assume which physical type they got: normalize via ts_us_col, which
    # dispatches on the dtype actually read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def ts_us_col(df: DataFrame, name: str = "ts") -> Column:
    """Epoch-µs Column for an event-time column, dispatched on the dtype the
    scan ACTUALLY produced — never on an assumed parquet physical type.

    On a real lake the same logical column is written by many producers over
    years: TIMESTAMP(NANOS) (Spark surfaces it as int64 epoch-ns under
    ``nanosAsLong``), TIMESTAMP(MICROS) not adjusted to UTC (TIMESTAMP_NTZ),
    or adjusted (TIMESTAMP). All three normalize to the engine-wide event-time
    convention, int64 epoch-µs — exactly what DuckDB's ``EPOCH_US(ts)`` yields
    on each of those physical types (its reader truncates ns→µs), so oracle
    comparisons hold regardless of which producer wrote the file.

    - LongType: legacy int64 epoch-ns → ``div 1000`` (truncating, like DuckDB).
    - TimestampNTZType: wall-clock micros; diff from the NTZ epoch is
      timezone-free (an LTZ cast would shift by the session timezone).
    - TimestampType: ``unix_micros`` (UTC-adjusted by definition).
    """
    dt = df.schema[name].dataType
    if isinstance(dt, LongType):
        return F.expr(f"{name} div 1000")
    if isinstance(dt, TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND,"
            f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {name})"
        )
    if isinstance(dt, TimestampType):
        return F.unix_micros(F.col(name))
    if isinstance(dt, DateType):
        return (F.unix_date(F.col(name)).cast("bigint") * F.lit(86_400_000_000)).cast(
            "bigint"
        )
    raise TypeError(
        f"column {name!r} has unsupported event-time dtype {dt}; "
        "expected int64 epoch-ns, TIMESTAMP_NTZ, TIMESTAMP, or DATE"
    )


def with_ts_us(df: DataFrame, name: str = "ts", out: str | None = None) -> DataFrame:
    """Replace (or add) an epoch-µs normalization of ``name`` (see ts_us_col)."""
    return df.withColumn(out or name, ts_us_col(df, name))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Bind every fixture table as a temp view (the reference's
    ``createOrReplaceTempView`` pattern, icberg/iceberg_tables.py:69-70) so
    SQL-surface queries can run against the same names DuckDB pre-registers."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def table_exists(spark: SparkSession, name: str) -> bool:
    """Catalog existence probe — the reference's try/except ``check_table_exist``
    (icberg/iceberg_tables.py:73-78) done through the catalog API instead."""
    return spark.catalog.tableExists(name)


def clear_stale_location(spark: SparkSession, name: str) -> None:
    """Remove a leftover managed-table directory for ``name``: a fresh
    session's in-memory catalog has no such table, but the warehouse dir
    from an earlier session may still hold it, and CREATE then fails with
    LOCATION_ALREADY_EXISTS."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    stale = os.path.join(warehouse.removeprefix("file:"), name.lower())
    if os.path.isdir(stale):
        shutil.rmtree(stale, ignore_errors=True)


def create_table_v2(
    df: DataFrame, name: str, partition_by: tuple[str, ...] = ()
) -> None:
    """DataFrameWriterV2 CTAS — the reference's ``writeTo(...).create()``
    (icberg/iceberg_tables.py:112). The v2 API resolves through the catalog
    plugin, so the same call targets Iceberg/Delta when their catalogs are
    configured; under the vanilla session catalog it creates a managed
    parquet table."""
    from pyspark.sql import functions as F

    clear_stale_location(df.sparkSession, name)
    writer = df.writeTo(name).using("parquet")
    if partition_by:
        writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
    writer.create()


def append_table_v2(df: DataFrame, name: str) -> None:
    """DataFrameWriterV2 append — the reference's ``writeTo(...).append()``
    (icberg/iceberg_tables.py:151). Against a real v2 catalog
    (Iceberg/Delta) the v2 path commits through the catalog's transaction
    machinery; the vanilla V2SessionCatalog hands back a v1 parquet table
    that rejects v2 writes, so that one case falls back to the v1 writer —
    same rows, catalog-native transaction semantics when available."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        df.writeTo(name).append()
    except AnalysisException as e:
        if "v1 table" not in str(e):
            raise
        df.write.mode("append").saveAsTable(name)


def register_external_table(
    spark: SparkSession, name: str, location: str, replace: bool = True
) -> None:
    """Location-backed external table in the session catalog — the
    reference's ``CREATE EXTERNAL TABLE ... LOCATION`` DDL
    (delta/delta_tables.py:41-47). Schema comes from the parquet footers;
    DROP TABLE leaves the data files in place (external semantics)."""
    if replace:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{location}'")
