"""CDC sink adapters: run the CDC merge pipeline against REAL
Delta / Iceberg tables instead of the homegrown lake format.

The reference's job is exactly this composition — a Glue CDC batch
MERGE'd into a Delta table (reference delta/delta_tables.py:159-160)
or an Iceberg catalog table (reference icberg/iceberg_tables.py:143-146).
``operators.cdc.merge_cdc_batch`` is already target-agnostic: it needs
only ``exists() / create(df, stat_cols) / stat_max(col) / read(spark) /
upsert(upserts, keys, delete_keys, key_bounds)``, where ``key_bounds``
is ``{key: (lo, hi)}`` of the staged batch, computed once by the
operator so the Delta writer runs no bounds query of its own (Iceberg's
merge-on-read reads no target file and ignores it). These adapters speak
that protocol over the jar-free format-compat writers, so
``scripts/run_cdc_job.py --format delta|iceberg`` lands commits any
foreign Delta/Iceberg reader can consume.

Scale notes:
- ``stat_max`` is manifest-only on both formats (Delta ``add.stats``
  maxValues; Iceberg manifest upper_bounds) — the CDC watermark costs
  zero data I/O, same as the lake target's ``stat_max``.
- Delta upsert is copy-on-write with add.stats key-range file pruning
  (:meth:`DeltaTableWriter.merge`); Iceberg upsert is merge-on-read
  O(batch) (:meth:`IcebergTableWriter.merge`). Pick Delta for
  read-heavy tables, Iceberg for high-churn write-heavy streams —
  the same trade the two reference scripts embody.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


class DeltaTarget:
    """``merge_cdc_batch``-compatible facade over a real Delta table."""

    def __init__(self, path: str, spark: SparkSession):
        from aws_glue_data_lake_spark.deltacompat import DeltaTableWriter

        self.path = path
        self._spark = spark
        self._writer = DeltaTableWriter(path)

    def _reader(self):
        from aws_glue_data_lake_spark.deltacompat import DeltaTableReader

        return DeltaTableReader(self.path)

    def exists(self) -> bool:
        log = os.path.join(self.path, "_delta_log")
        return os.path.isdir(log) and any(
            n.endswith(".json") or n.endswith(".checkpoint.parquet")
            for n in os.listdir(log)
        )

    def create(self, df: DataFrame, stat_cols: Sequence[str] = ()) -> None:
        # Delta writes per-file stats for every leaf column already;
        # stat_cols is the lake target's narrower contract — accepted
        # for signature parity, subsumed here.
        self._writer.create(df)

    def stat_max(self, col: str):
        """Manifest-level MAX from add.stats — zero data I/O."""
        snap = self._reader().snapshot()
        best = None
        for p, _pv, _dv in snap.files:
            st = (snap.stats or {}).get(p)
            if st and st.get("numRecords") == 0:
                continue  # an empty file cannot hold the max
            if not st:
                return None  # a stat-less file could hold the max
            v = st.get("maxValues", {}).get(col)
            if v is None:
                return None
            if best is None or v > best:
                best = v
        return best

    def read(self, spark: SparkSession) -> DataFrame:
        return self._reader().to_df(spark)

    def upsert(
        self,
        upserts: DataFrame,
        keys: Sequence[str],
        delete_keys: DataFrame | None = None,
        key_bounds: dict | None = None,
    ) -> int:
        return self._writer.merge(
            self._spark, upserts, keys, delete_keys=delete_keys,
            key_bounds=key_bounds,
        )


class IcebergTarget:
    """``merge_cdc_batch``-compatible facade over a real Iceberg table."""

    def __init__(self, path: str, spark: SparkSession):
        from aws_glue_data_lake_spark.icebergcompat import IcebergTableWriter

        self.path = path
        self._spark = spark
        self._writer = IcebergTableWriter(path)

    def _reader(self):
        from aws_glue_data_lake_spark.icebergcompat import IcebergTableReader

        return IcebergTableReader(self.path)

    def exists(self) -> bool:
        meta = os.path.join(self.path, "metadata")
        return os.path.isdir(meta) and any(
            n.endswith(".metadata.json") for n in os.listdir(meta)
        )

    def create(self, df: DataFrame, stat_cols: Sequence[str] = ()) -> None:
        self._writer.create(df)

    def stat_max(self, col: str):
        """Manifest-level MAX from the entries' upper_bounds."""
        snap = self._reader().snapshot()
        best = None
        for p, _pv in snap.files:
            st = (snap.col_stats or {}).get(p, {}).get(col)
            if not st or st.get("max") is None:
                return None
            v = st["max"]
            if best is None or v > best:
                best = v
        return best

    def read(self, spark: SparkSession) -> DataFrame:
        return self._reader().to_df(spark)

    def upsert(
        self,
        upserts: DataFrame,
        keys: Sequence[str],
        delete_keys: DataFrame | None = None,
        key_bounds: dict | None = None,
    ) -> int:
        # merge-on-read reads no target file, so there is nothing to
        # prune with the bounds
        return self._writer.merge(upserts, keys, delete_keys=delete_keys)
