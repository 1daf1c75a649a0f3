"""Unified table facade: ``open_table(path, format=...)``.

The engine grew three parallel table surfaces — the homegrown
:class:`~aws_glue_data_lake_spark.lake.LakeTable`, the jar-free Delta
protocol layer (:mod:`~aws_glue_data_lake_spark.deltacompat`) and the
Iceberg v2 layer (:mod:`~aws_glue_data_lake_spark.icebergcompat`) — each
with the same capabilities under slightly different method shapes. The
format-independent half of their row-level DML (predicate and assignment
handling, the affected-file probe, the kept/matched/updated row split of a
copy-on-write rewrite, deletion-vector position packing) lives once, in
:mod:`~aws_glue_data_lake_spark.operators.dml`. This
module is the one entry point a user needs, the way the reference's users
reach every format through one handle (reference
delta/delta_tables.py:87-88 ``DeltaTable.forPath(spark, path)``; reference
icberg/iceberg_tables.py uses the session catalog the same way):

    t = open_table(path)              # format auto-detected from layout
    t = open_table(path, "delta")     # or pinned explicitly
    t.create(df, partition_by=["dt"])
    t.append(df)
    t.upsert(batch, keys=["k"])       # MERGE (CoW on delta, MoR on iceberg)
    t.delete_where(spark, "k = 2")
    t.read(spark)                     # tip
    t.read(spark, version=3)          # time travel (snapshot-id on iceberg)
    t.read(spark, timestamp_ms=...)   # TIMESTAMP AS OF
    t.changes(spark)                  # row-level change feed (CDF)
    t.history()

Everything delegates — no logic lives here beyond argument unification —
so the facade inherits each layer's scale properties unchanged
(manifest-only watermarks, file-pruned CoW merges, O(batch) MoR commits,
single-scan CDF reads).
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from aws_glue_data_lake_spark.localdf import local_df

FORMATS = ("lake", "delta", "iceberg")


def detect_format(path: str) -> str | None:
    """Which table layout lives at ``path``: 'delta' (_delta_log/),
    'iceberg' (metadata/*.metadata.json), 'lake' (_manifests/v*.json), or
    None when nothing committed exists yet."""
    import glob as g
    import re

    if os.path.isdir(os.path.join(path, "_delta_log")):
        log = os.path.join(path, "_delta_log")
        if any(
            re.match(r"^\d{20}\.(json|checkpoint\..*)$", n)
            for n in os.listdir(log)
        ):
            return "delta"
    meta = os.path.join(path, "metadata")
    if os.path.isdir(meta) and any(
        re.match(r"^v\d+\.metadata\.json$", n) or n.endswith(".metadata.json")
        for n in os.listdir(meta)
    ):
        return "iceberg"
    if g.glob(os.path.join(path, "_manifests", "v*.json")):
        return "lake"
    return None


class Table:
    """One handle over a lake / Delta / Iceberg table (see module doc)."""

    def __init__(self, path: str, format: str):  # noqa: A002
        if format not in FORMATS:
            raise ValueError(f"format must be one of {FORMATS}: {format!r}")
        self.path = path
        self.format = format

    # -- per-format delegates ------------------------------------------------
    def _lake(self):
        from aws_glue_data_lake_spark.lake import LakeTable

        return LakeTable(self.path)

    def _delta_reader(self):
        from aws_glue_data_lake_spark.deltacompat import DeltaTableReader

        return DeltaTableReader(self.path)

    def _delta_writer(self):
        from aws_glue_data_lake_spark.deltacompat import DeltaTableWriter

        return DeltaTableWriter(self.path)

    def _ice_reader(self):
        from aws_glue_data_lake_spark.icebergcompat import IcebergTableReader

        return IcebergTableReader(self.path)

    def _ice_writer(self):
        from aws_glue_data_lake_spark.icebergcompat import IcebergTableWriter

        return IcebergTableWriter(self.path)

    # -- existence / create ---------------------------------------------------
    def exists(self) -> bool:
        return detect_format(self.path) == self.format

    def create(
        self,
        df: DataFrame,
        partition_by: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
    ) -> "Table":
        if cluster_by and self.format != "delta":
            raise ValueError(
                "CLUSTER BY (liquid clustering) is a Delta feature; "
                f"for {self.format!r} use compact(zorder_by=...) or "
                "an Iceberg sort order (set_sort_order)"
            )
        if cluster_by:
            self._delta_writer().create(
                df, partition_by=partition_by, cluster_by=cluster_by
            )
            return self
        if self.format == "lake":
            # record footer stats for every primitive column so
            # stat_max/read_pruned work out of the box (Delta/Iceberg
            # stamp per-file stats unconditionally; the lake layer is
            # opt-in)
            prim = [
                f.name
                for f in df.schema.fields
                if f.dataType.typeName()
                not in ("struct", "array", "map", "binary")
            ]
            self._lake().create(
                df, stat_cols=prim, partition_by=list(partition_by)
            )
        elif self.format == "delta":
            self._delta_writer().create(df, partition_by=partition_by)
        else:
            self._ice_writer().create(df, partition_by=partition_by)
        return self

    # -- reads ----------------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        timestamp_ms: int | None = None,
        partition_filter: dict | None = None,
    ) -> DataFrame:
        """Snapshot scan with unified time travel: ``version`` is the
        commit version (lake/delta) or snapshot id (iceberg);
        ``timestamp_ms`` is TIMESTAMP AS OF on delta/iceberg."""
        if self.format == "lake":
            if timestamp_ms is not None:
                raise NotImplementedError(
                    "lake tables time-travel by version (or tag); "
                    "timestamp_ms is a delta/iceberg capability"
                )
            return self._lake().read(
                spark, version=version, partition_filter=partition_filter
            )
        if self.format == "delta":
            return self._delta_reader().to_df(
                spark,
                version=version,
                timestamp_ms=timestamp_ms,
                partition_filter=partition_filter,
            )
        return self._ice_reader().to_df(
            spark,
            snapshot_id=version,
            timestamp_ms=timestamp_ms,
            partition_filter=partition_filter,
        )

    # -- writes ----------------------------------------------------------------
    def append(self, df: DataFrame, merge_schema: bool = False) -> None:
        if self.format == "lake":
            self._lake().append(df, merge_schema=merge_schema)
        elif self.format == "delta":
            self._delta_writer().append(df, merge_schema=merge_schema)
        else:
            self._ice_writer().append(df, merge_schema=merge_schema)

    def upsert(
        self,
        source: DataFrame,
        keys: Sequence[str],
        delete_keys: DataFrame | None = None,
        not_matched_by_source: str | None = None,
        not_matched_by_source_condition: str | None = None,
        not_matched_by_source_set: dict | None = None,
        not_matched_by_source_clauses: Sequence | None = None,
        matched_clauses: Sequence | None = None,
        not_matched_insert: bool = True,
        not_matched_condition: str | None = None,
        not_matched_set: dict | None = None,
        not_matched_clauses: Sequence | None = None,
    ) -> None:
        """MERGE: every target row whose key appears in ``source`` is
        replaced, the rest of ``source`` inserts; ``delete_keys``-only
        keys delete. Copy-on-write with stats file pruning on lake/delta,
        merge-on-read (one equality-delete + data snapshot) on iceberg.

        ``not_matched_by_source`` ("delete"/"update" +
        ``not_matched_by_source_set``, optional bare-column condition)
        adds the three-clause MERGE's ``WHEN NOT MATCHED BY SOURCE``
        leg on every layer — delta-spark's SCD/full-sync idiom.

        ``matched_clauses`` switches the matched leg to delta-spark's
        CHAINED conditional form (ordered ``("update", cond, set)`` /
        ``("delete", cond)``, first-match-wins, ``t.<col>``/``s.<col>``
        references; operators/mergeclauses.py), with
        ``not_matched_insert`` / ``not_matched_condition`` completing
        the WHEN NOT MATCHED leg's grammar — identical semantics on all
        three layers."""
        nmbs = dict(
            not_matched_by_source=not_matched_by_source,
            not_matched_by_source_condition=(
                not_matched_by_source_condition
            ),
            not_matched_by_source_set=not_matched_by_source_set,
            not_matched_by_source_clauses=not_matched_by_source_clauses,
            matched_clauses=matched_clauses,
            not_matched_insert=not_matched_insert,
            not_matched_condition=not_matched_condition,
            not_matched_set=not_matched_set,
            not_matched_clauses=not_matched_clauses,
        )
        if self.format == "lake":
            self._lake().upsert(
                source, keys=keys, delete_keys=delete_keys, **nmbs
            )
        elif self.format == "delta":
            self._delta_writer().merge(
                source.sparkSession, source, keys,
                delete_keys=delete_keys, **nmbs,
            )
        else:
            self._ice_writer().merge(
                source, keys, delete_keys=delete_keys, **nmbs
            )

    def delete_where(self, spark: SparkSession, condition: str) -> None:
        self._impl_for_write().delete_where(spark, condition)

    def update_where(
        self, spark: SparkSession, condition: str, assignments: dict
    ) -> None:
        """UPDATE ... SET ... WHERE ...: one copy-on-write commit on
        every layer — only files holding a matching row are rewritten
        (found by a metadata-column aggregation over the
        pushed-predicate scan); the rest carry by reference.
        ``assignments`` maps column name -> SQL expression or Column."""
        self._impl_for_write().update_where(spark, condition, assignments)

    def _impl_for_write(self):
        if self.format == "lake":
            return self._lake()
        if self.format == "delta":
            return self._delta_writer()
        return self._ice_writer()

    def clone_to(
        self,
        dest_path: str,
        version: int | None = None,
        timestamp_ms: int | None = None,
    ) -> "Table":
        """SHALLOW CLONE this table to ``dest_path`` (same format): one
        metadata-only commit referencing the source's live files by
        absolute path — zero data bytes move; both sides then diverge
        independently. Delta supports ``VERSION AS OF`` /
        ``TIMESTAMP AS OF`` clones; lake clones the current snapshot.
        Iceberg's spec has no CLONE command (its idiom is
        register_table / snapshot refs) — loud, not faked."""
        if self.format == "delta":
            from aws_glue_data_lake_spark.deltacompat import (
                DeltaTableWriter,
            )

            DeltaTableWriter(dest_path).clone_from(
                self.path, version=version, timestamp_ms=timestamp_ms
            )
            return open_table(dest_path, "delta")
        if self.format == "lake":
            if version is not None or timestamp_ms is not None:
                raise NotImplementedError(
                    "lake clone_to clones the CURRENT snapshot only"
                )
            self._lake().clone_to(dest_path)
            return open_table(dest_path, "lake")
        raise NotImplementedError(
            "Iceberg has no SHALLOW CLONE command; use snapshot "
            "refs/branches (append(branch=...)) or catalog "
            "register_table for the equivalent workflows"
        )

    # -- change feed / history --------------------------------------------------
    def changes(self, spark: SparkSession, **kw) -> DataFrame:
        """Row-level change feed between commits/snapshots (CDF). Delta
        tables need delta.enableChangeDataFeed for rewrite commits; lake
        tables stream their feed via the ``lake_cdf`` source instead of a
        batch read."""
        if self.format == "lake":
            raise NotImplementedError(
                "lake change feeds are streaming-only: "
                'spark.readStream.format("lake_cdf").option("path", ...)'
            )
        if self.format == "delta":
            return self._delta_reader().changes(spark, **kw)
        return self._ice_reader().changes(spark, **kw)

    def set_constraint(
        self, name: str, expr: str, spark: SparkSession | None = None
    ) -> None:
        """ALTER TABLE ADD CONSTRAINT <name> CHECK (<expr>): recorded in
        table metadata and enforced on every subsequent write. Iceberg
        has no CHECK-constraint concept in its spec — loud, not faked.
        Lake tables prove the EXISTING rows satisfy the constraint
        before registering it, which needs a ``spark`` session."""
        if self.format == "delta":
            self._delta_writer().set_constraint(name, expr)
        elif self.format == "lake":
            if spark is None:
                raise ValueError(
                    "lake set_constraint validates existing rows: "
                    "pass spark (set_constraint(name, expr, spark))"
                )
            self._lake().add_check_constraint(spark, name, expr)
        else:
            raise NotImplementedError(
                "the Iceberg table spec has no CHECK constraints; "
                "enforce in the writing pipeline instead"
            )

    def drop_constraint(self, name: str) -> None:
        if self.format == "delta":
            # delta-spark drops by REMOVING the key; set_property can't
            # remove, so route through a metadata commit that rewrites
            # the configuration without it
            w = self._delta_writer()
            from aws_glue_data_lake_spark.deltacompat import (
                DeltaTableReader,
            )

            r = DeltaTableReader(self.path)
            snap = r.snapshot()
            meta = dict(snap.raw_meta)
            conf = dict(meta.get("configuration", {}) or {})
            conf.pop(f"delta.constraints.{name}", None)
            meta["configuration"] = conf
            w._commit_read_dependent(
                snap.version + 1,
                [{"metaData": meta}],
                operation="DROP CONSTRAINT",
                read_files=set(),
                add_conflict=False,
            )
        elif self.format == "lake":
            self._lake().drop_check_constraint(name)
        else:
            raise NotImplementedError(
                "the Iceberg table spec has no CHECK constraints"
            )

    def add_column(
        self, column: str, type_ddl: str, default: str | None = None
    ) -> None:
        """ALTER TABLE ... ADD COLUMN <c> <type>: metadata-only schema
        evolution — prior rows read NULL. Delta stamps columnMapping
        id/physicalName when mapping is on; Iceberg appends a new
        schema-id with a fresh field id. ADD COLUMN ... DEFAULT is
        refused per the Delta protocol (set the default AFTERWARDS via
        ALTER COLUMN ... SET DEFAULT for future inserts)."""
        if self.format == "delta":
            self._delta_writer().add_column(
                column, type_ddl, default=default
            )
        elif self.format == "iceberg":
            if default is not None:
                raise NotImplementedError(
                    "ADD COLUMN ... DEFAULT: Iceberg has no "
                    "write-default concept in this engine; add the "
                    "column and fill values in the writing pipeline"
                )
            self._ice_writer().add_column(column, type_ddl)
        else:
            raise NotImplementedError(
                f"{self.format} tables evolve schema via "
                "append(merge_schema=True), not standalone ADD COLUMN"
            )

    def widen_column_type(self, column: str, type_ddl: str) -> None:
        """ALTER TABLE ... ALTER COLUMN <c> TYPE <t>: metadata-only
        type WIDENING — Delta stamps delta.typeChanges + the
        typeWidening feature, Iceberg commits a new schema-id under the
        spec's legal promotions. Old files read upcast; nothing is
        rewritten."""
        if self.format == "delta":
            self._delta_writer().widen_column_type(column, type_ddl)
        elif self.format == "iceberg":
            self._ice_writer().widen_column_type(column, type_ddl)
        else:
            raise NotImplementedError(
                "lake tables have no standalone ALTER COLUMN TYPE; "
                "append(merge_schema=True) does not widen either"
            )

    def add_partition_field(
        self, source: str, transform: str = "identity",
        name: str | None = None,
    ) -> None:
        """ALTER TABLE ... ADD PARTITION FIELD: Iceberg partition-spec
        evolution — metadata-only; no data rewrite; old files stay
        readable under their own spec."""
        if self.format != "iceberg":
            raise NotImplementedError(
                "partition-spec evolution is an Iceberg capability; "
                f"{self.format} tables fix partitioning at create"
            )
        self._ice_writer().add_partition_field(
            source, transform=transform, name=name
        )

    def remove_partition_field(self, name: str) -> None:
        """ALTER TABLE ... DROP PARTITION FIELD (Iceberg only)."""
        if self.format != "iceberg":
            raise NotImplementedError(
                "partition-spec evolution is an Iceberg capability"
            )
        self._ice_writer().remove_partition_field(name)

    def set_sort_order(
        self, columns: Sequence[str], descending: Sequence[str] = ()
    ) -> None:
        """ALTER TABLE ... WRITE ORDERED BY (Iceberg only): declare the
        table's write sort order — metadata-only; subsequent appends
        cluster each staged file by it and stamp sort_order_id."""
        if self.format != "iceberg":
            raise NotImplementedError(
                "declared sort orders are an Iceberg metadata "
                "capability (spec § Sort Orders); use OPTIMIZE ... "
                "ZORDER BY for clustering on delta/lake tables"
            )
        self._ice_writer().set_sort_order(columns, descending=descending)

    def set_cluster_by(self, columns: Sequence[str]) -> None:
        """ALTER TABLE ... CLUSTER BY (cols) / CLUSTER BY NONE (empty
        ``columns``) — Delta liquid clustering (protocol § Clustered
        Table): metadata-only; the next compact()/OPTIMIZE clusters by
        the declared columns."""
        if self.format != "delta":
            raise NotImplementedError(
                "CLUSTER BY (liquid clustering) is a Delta protocol "
                "feature; use compact(zorder_by=...) on lake tables "
                "or WRITE ORDERED BY on Iceberg"
            )
        self._delta_writer().set_cluster_by(columns)

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE ... RENAME COLUMN: metadata-only — Delta keeps
        physicalName/field id (columnMapping required), Iceberg keeps
        the field id under the new name."""
        if self.format == "delta":
            self._delta_writer().rename_column(old, new)
        elif self.format == "iceberg":
            self._ice_writer().rename_column(old, new)
        else:
            raise NotImplementedError(
                f"{self.format} tables have no rename-safe column "
                "identity (no mapping/field ids) in this engine"
            )

    def drop_column(self, column: str) -> None:
        """ALTER TABLE ... DROP COLUMN: metadata-only — the physical
        data stays in committed files and is never projected again."""
        if self.format == "delta":
            self._delta_writer().drop_column(column)
        elif self.format == "iceberg":
            self._ice_writer().drop_column(column)
        else:
            raise NotImplementedError(
                f"{self.format} tables have no drop-safe column "
                "identity (no mapping/field ids) in this engine"
            )

    def set_column_default(self, column: str, expr: str) -> None:
        """ALTER TABLE ... ALTER COLUMN <c> SET DEFAULT <expr>: Delta
        stamps CURRENT_DEFAULT field metadata + the allowColumnDefaults
        writer feature (PROTOCOL.md § Default Columns); the other
        layers have no column-default concept in their specs — loud,
        not faked."""
        if self.format == "delta":
            self._delta_writer().set_column_default(column, expr)
        else:
            raise NotImplementedError(
                f"{self.format} tables have no column-default concept "
                "in this engine; supply the value in the writing "
                "pipeline instead"
            )

    def set_property(self, key: str, value: str) -> None:
        """ALTER TABLE SET TBLPROPERTIES: delta-backed tables commit the
        key into the log's configuration; other layers have no free-form
        property store — loud, not dropped."""
        if self.format == "delta":
            self._delta_writer().set_property(key, value)
        else:
            raise NotImplementedError(
                f"{self.format} tables have no free-form TBLPROPERTIES "
                "store in this engine"
            )

    def properties(self) -> dict[str, str]:
        """``SHOW TBLPROPERTIES``: the table's property map — Delta's
        log ``configuration``, Iceberg's metadata ``properties``; lake
        tables have no free-form store (empty, consistent with
        :meth:`set_property`'s refusal)."""
        if self.format == "delta":
            return dict(
                self._delta_reader().snapshot().configuration or {}
            )
        if self.format == "iceberg":
            meta = self._ice_writer()._load_prev()
            return dict((meta or {}).get("properties") or {})
        return {}

    def history(self) -> list[dict]:
        if self.format == "lake":
            return [
                {"version": s.version, "operation": s.op}
                for s in reversed(self._lake().history())
            ]
        if self.format == "delta":
            return self._delta_reader().history()
        return self._ice_reader().history()

    # -- metadata tables ----------------------------------------------------
    # Queryable relations over pure table metadata (Iceberg's
    # ``t.snapshots`` / ``t.files`` / ``t.partitions`` metadata tables,
    # Delta's DESCRIBE HISTORY / DESCRIBE DETAIL): everything comes from
    # the manifest/log walk the readers already do — zero data-file
    # scans at ANY table size, so inspecting a 100 TB table costs the
    # same driver-side metadata read its snapshot() does.

    _SNAPSHOTS_DDL = (
        "version long, snapshot_id long, timestamp_ms long, "
        "sequence_number long, operation string"
    )
    _FILES_DDL = (
        "file_path string, partition map<string,string>, "
        "record_count long, file_size_bytes long"
    )
    _PARTITIONS_DDL = (
        "partition map<string,string>, file_count long, record_count long"
    )

    def snapshots(self, spark: SparkSession) -> DataFrame:
        """One row per commit/snapshot, newest first: unified over
        Delta DESCRIBE HISTORY (version-keyed) and Iceberg's snapshots
        metadata table (snapshot-id + sequence-number keyed)."""
        if self.format == "lake":
            rows = [
                (s.version, None, None, None, s.op)
                for s in reversed(self._lake().history())
            ]
        elif self.format == "delta":
            rows = [
                (h["version"], None, h.get("timestamp"), None,
                 h.get("operation"))
                for h in self._delta_reader().history()
            ]
        else:
            rows = [
                (None, h["snapshot_id"], h.get("timestamp_ms"),
                 h.get("sequence_number"), h.get("operation"))
                for h in self._ice_reader().history()
            ]
        return local_df(spark, rows, self._SNAPSHOTS_DDL)

    _DETAIL_DDL = (
        "format string, location string, num_files long, "
        "size_in_bytes long, partition_columns array<string>, "
        "clustering_columns array<string>, num_versions long"
    )

    def detail(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE DETAIL: one row of table-level facts — format,
        location, live file count + total bytes, partition columns,
        clustering columns (delta-spark's ``clusteringColumns`` field:
        the liquid CLUSTER BY declaration; empty on other formats),
        version count. Pure manifest/log metadata like the other
        metadata relations: constant cost at any table size."""
        from pyspark.sql import functions as F

        f = self.files(spark).agg(
            F.count("*").cast("long").alias("num_files"),
            F.sum("file_size_bytes").cast("long").alias("size_in_bytes"),
        ).first()
        ccols: list[str] = []
        if self.format == "lake":
            pcols = list(self._lake().snapshot().partition_by or ())
        elif self.format == "delta":
            from aws_glue_data_lake_spark.deltacompat import (
                _clustering_logical_cols,
            )

            snap = self._delta_reader().snapshot()
            pcols = list(snap.partition_columns)
            ccols = _clustering_logical_cols(snap)
        else:
            pcols = list(self._ice_reader().snapshot().partition_by)
        return local_df(
            spark,
            [
                (
                    self.format,
                    self.path,
                    f["num_files"],
                    f["size_in_bytes"],
                    pcols,
                    ccols,
                    len(self.history()),
                )
            ],
            self._DETAIL_DDL,
        )

    def files(self, spark: SparkSession) -> DataFrame:
        """One row per LIVE data file at the tip: path, identity
        partition values (stringified), manifest/log-recorded row count
        and size. Row counts are physical (Delta files carrying a
        deletion vector count their tombstoned rows, like DESCRIBE
        DETAIL); Iceberg counts come straight from the manifests."""
        rows = []
        if self.format == "lake":
            for e in self._lake().snapshot().files:
                p = os.path.join(self.path, e["path"])
                rows.append(
                    (
                        p,
                        {
                            k: None if v is None else str(v)
                            for k, v in (e.get("partition") or {}).items()
                        },
                        e.get("rows"),
                        os.path.getsize(p) if os.path.exists(p) else None,
                    )
                )
        elif self.format == "delta":
            snap = self._delta_reader().snapshot()
            for p, pv, _dv in snap.files:
                st = (snap.stats or {}).get(p) or {}
                rows.append(
                    (
                        p,
                        {k: v for k, v in (pv or {}).items()},
                        st.get("numRecords"),
                        os.path.getsize(p) if os.path.exists(p) else None,
                    )
                )
        else:
            snap = self._ice_reader().snapshot()
            for p, pv in snap.files:
                rows.append(
                    (
                        p,
                        {
                            k: None if v is None else str(v)
                            for k, v in (pv or {}).items()
                        },
                        (snap.record_counts or {}).get(p),
                        (snap.file_sizes or {}).get(p),
                    )
                )
        return local_df(spark, rows, self._FILES_DDL)

    def partitions(self, spark: SparkSession) -> DataFrame:
        """Live partitions at the tip with file and row counts — the
        aggregate of :meth:`files` (still metadata-only)."""
        from pyspark.sql import functions as F

        # map columns aren't groupable: key on the sorted entry array,
        # then rebuild the map
        return (
            self.files(spark)
            .groupBy(
                F.array_sort(F.map_entries("partition")).alias("__pk")
            )
            .agg(
                F.count("*").alias("file_count"),
                F.sum("record_count").alias("record_count"),
            )
            .select(
                F.map_from_entries("__pk").alias("partition"),
                "file_count",
                "record_count",
            )
        )

    # -- maintenance -------------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        zorder_by: Sequence[str] = (),
    ) -> None:
        """Fold small files (and, on iceberg, merge-on-read tombstones)
        into a compacted snapshot — OPTIMIZE in Delta's vocabulary.
        ``zorder_by`` (Delta) clusters the rewrite on an interleaved
        z-key so every named column's file stats stay tight."""
        if self.format == "lake":
            self._lake().compact(
                spark, target_files=target_files,
                zorder_by=list(zorder_by),
            )
        elif self.format == "delta":
            self._delta_writer().optimize(
                spark, target_files=target_files, zorder_by=zorder_by
            )
        else:
            self._ice_writer().compact(
                spark, zorder_by=list(zorder_by)
            )

    def truncate(self, spark: SparkSession | None = None) -> None:
        """``TRUNCATE TABLE``: drop every row in one metadata-only
        commit — schema/partitioning/properties survive, prior
        versions stay time-travelable until vacuum. Delta needs
        ``spark`` when CDF is enabled (the feed records row-level
        deletes)."""
        if self.format == "lake":
            self._lake().truncate()
        elif self.format == "delta":
            self._delta_writer().truncate(spark)
        else:
            self._ice_writer().truncate()

    def reorg_purge(self, spark: SparkSession) -> None:
        """``REORG TABLE … APPLY (PURGE)`` (Delta): rewrite ONLY the
        files carrying deletion vectors or dropped-column bytes so the
        soft-deleted data becomes physically removable by the next
        vacuum. Unlike :meth:`compact` this never rewrites clean
        files."""
        if self.format != "delta":
            raise NotImplementedError(
                "REORG ... APPLY (PURGE) is a Delta command; iceberg "
                "merge-on-read tombstones are folded by compact(), "
                "lake tables are copy-on-write (nothing soft-deleted)"
            )
        self._delta_writer().reorg_purge(spark)

    def vacuum(
        self,
        keep: int = 1,
        hours: float | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Physically remove files only unreachable snapshots reference;
        returns the deleted paths. ``keep`` = how many trailing
        versions/snapshots stay time-travelable, honored the same way on
        all three formats. ``hours`` (Delta SQL's ``RETAIN n HOURS``)
        maps the time window onto versions from commit timestamps: every
        version committed inside the window survives, plus the one
        current at its edge. Conservative vs delta-spark's file-mtime
        retention — a file is only deleted once NO retained version
        references it — so nothing a time-based reader could still need
        is ever dropped. ``keep`` is ignored when ``hours`` is given.
        ``dry_run`` (delta-spark's ``VACUUM ... DRY RUN``) reports the
        would-be-deleted paths with zero mutation on every format."""
        if hours is not None:
            keep = self._keep_for_hours(float(hours))
        if self.format == "lake":
            return self._lake().vacuum(keep_versions=keep, dry_run=dry_run)
        if self.format == "delta":
            return self._delta_writer().vacuum(
                keep_versions=keep, dry_run=dry_run
            )
        return self._ice_writer().expire_snapshots(
            keep_last=keep, dry_run=dry_run
        )

    def restore(
        self,
        version: int,
        spark: SparkSession | None = None,
    ) -> None:
        """``RESTORE TABLE … TO VERSION AS OF n`` — roll the live table
        state back to an earlier version/snapshot as a NEW commit
        (history preserved, nothing rewritten; files the target still
        references must not have been vacuumed). Delta takes the commit
        version (pass ``spark`` when CDF is enabled so the row-level
        feed stays truthful); lake takes its version; iceberg takes the
        SNAPSHOT ID (``rollback_to``)."""
        if self.format == "lake":
            self._lake().restore(int(version))
        elif self.format == "delta":
            self._delta_writer().restore(int(version), spark=spark)
        else:
            self._ice_writer().rollback_to(int(version))

    def _keep_for_hours(self, hours: float) -> int:
        """hours -> trailing-version count, from each format's commit
        timestamps (Delta: commitInfo/inCommitTimestamp via
        version_at_timestamp; Iceberg: snapshot timestamp-ms; lake:
        manifest mtime — that format records no commit instant).
        Metadata-only at any table size."""
        import time

        cutoff = int((time.time() - hours * 3600.0) * 1000)
        if self.format == "delta":
            r = self._delta_reader()
            tip = r.snapshot().version
            try:
                base = r.version_at_timestamp(cutoff)
            except ValueError:
                return tip + 1  # window predates the log: keep all
            return tip - base + 1
        if self.format == "iceberg":
            hist = self._ice_reader().history()
            if not hist:
                return 1
            newer = sum(
                1
                for h in hist
                if (h.get("timestamp_ms") or 0) > cutoff
            )
            return min(newer + 1, len(hist))
        lk = self._lake()
        vs = lk._manifest_versions()
        if not vs:
            return 1
        newer = 0
        for v in vs:
            p = os.path.join(lk._manifests, f"v{v}.json")
            try:
                if os.path.getmtime(p) * 1000 > cutoff:
                    newer += 1
            except OSError:
                newer += 1  # unreadable commit instant: keep it
        return min(newer + 1, len(vs))

    def stat_max(self, col: str):
        """Manifest-only MAX of a column (zero data I/O) — the CDC
        watermark primitive on every layer."""
        if self.format == "lake":
            return self._lake().stat_max(col)
        from aws_glue_data_lake_spark.targets import (
            DeltaTarget,
            IcebergTarget,
        )

        t = (
            DeltaTarget(self.path, None)
            if self.format == "delta"
            else IcebergTarget(self.path, None)
        )
        return t.stat_max(col)


def open_table(path: str, format: str | None = None) -> Table:  # noqa: A002
    """The one entry point: open (or pre-declare) a table at ``path``.
    With ``format=None`` the on-disk layout decides; creating a NEW table
    requires an explicit format (there is nothing to detect yet).

    A CATALOG NAME also works: a path-less string (no separator, no such
    directory) resolves through the active session's format-table
    bindings (catalog.py) — the reference's
    ``spark.table(f'{CATALOG}.{DATABASE}.{TABLE}')`` flow (reference
    icberg/iceberg_tables.py:65-66). Name resolution needs an active
    SparkSession; a miss falls through to the path error."""
    if os.sep not in path and not os.path.exists(path):
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            from aws_glue_data_lake_spark.catalog import binding

            b = binding(active, path)
            if b is not None:
                bound_path, bound_fmt = b
                if format is not None and format != bound_fmt:
                    raise ValueError(
                        f"catalog binding {path!r} is {bound_fmt!r}, "
                        f"not {format!r}"
                    )
                return Table(bound_path, bound_fmt)
    detected = detect_format(path)
    if format is None:
        if detected is None:
            raise FileNotFoundError(
                f"no table layout detected under {path}; pass "
                f"format= one of {FORMATS} to create one"
            )
        return Table(path, detected)
    if detected is not None and detected != format:
        raise ValueError(
            f"table at {path} is {detected!r}, not {format!r}"
        )
    return Table(path, format)
