"""Delta Lake transaction-log compatibility — jar-free, read AND write.

The reference engine's destination *is* a Delta table
(reference delta/delta_tables.py:8 ``from delta.tables import *``, :131
``write.format("delta")``): a user switching from it holds real
``_delta_log`` tables. This module speaks the PUBLIC Delta transaction
log protocol (https://github.com/delta-io/delta/blob/master/PROTOCOL.md)
with no delta-spark jars:

- ``DeltaTableReader`` replays ``_delta_log/*.json`` commits (and
  ``*.checkpoint.parquet`` checkpoints) into a file list + schema and
  plans a normal Spark parquet scan over exactly the live files —
  add/remove actions, partition-column reconstruction from
  ``partitionValues``, time travel by version, columnMapping=name
  (physical-name files aliased back to the logical schema — the
  Databricks-written-table layout), protocol gating.
- ``DeltaTableWriter`` emits the same protocol (legacy reader 1 /
  writer 2 until a feature demands reader 3 / writer 7): atomic
  ``O_EXCL`` commit JSONs, url-encoded relative paths, Hive-layout
  partition dirs, classic parquet checkpoints (auto-written every
  ``delta.checkpointInterval`` commits) with log-retention cleanup,
  deletion vectors, Change Data Feed cdc files, SetTransaction
  idempotence — so anything this engine exports is readable by
  delta-spark / DuckDB's delta extension / Athena.

Scale note: log replay is O(#actions since last checkpoint) driver-side
metadata work — the same contract as delta-spark's Snapshot — and the
data scan itself is a plain distributed parquet read with the usual
pushdown/pruning. Partition values ride the manifest (the log), never
the data files, matching Delta's layout.
"""

from __future__ import annotations

import decimal
import json
import os
import re
import time
import urllib.parse
import uuid
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from aws_glue_data_lake_spark.concurrency import run_jobs
from aws_glue_data_lake_spark.localdf import local_df
from aws_glue_data_lake_spark.operators import dml

#: Reader features this implementation actually honors (protocol §
#: "reader version 3"). Anything else in readerFeatures must hard-fail:
#: silently ignoring deletionVectors or columnMapping would return wrong
#: rows, the protocol's cardinal sin.
_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "columnMapping",
    "deletionVectors",
    "v2Checkpoint",
    # the scan pins the table's (widened) schema and Spark 4's parquet
    # reader upcasts narrower file types natively (int32->long,
    # float->double, int->decimal — verified empirically), so files
    # written before an ALTER COLUMN TYPE read correctly as-is; the
    # delta.typeWidening.* field metadata is scan-inert
    "typeWidening",
    "typeWidening-preview",
    # constrains VACUUM (which this writer already performs
    # protocol-correctly: only unreferenced files, retention honored);
    # zero reader behavior change — newer Databricks/delta-spark
    # runtimes stamp it into readerFeatures by default, so refusing it
    # refuses perfectly readable tables
    "vacuumProtocolCheck",
    # collated string columns (preview): the collation annotation lives
    # in field metadata and changes COMPARISON semantics, not the
    # bytes->rows mapping — a snapshot scan returns exactly the same
    # rows, and this reader performs no collation-sensitive stats
    # pruning of its own. WRITES to a table with an actually-collated
    # column are refused (targeted message in _check_writer_features):
    # stats ordering and MERGE key equality under a non-binary
    # collation are obligations this writer does not implement.
    "collations",
    "collations-preview",
    # VARIANT columns roundtrip natively: schemaString "variant" parses
    # via StructType.fromJson and Spark 4's parquet reader decodes the
    # (metadata, value) physical pair under a pinned VariantType schema
    # (verified empirically; variant_get already exercised in
    # scalar_variant_navigation).
    "variantType",
    "variantType-preview",
    # shredded VARIANT (parquet-format VariantShredding.md): Spark 4's
    # vectorized reader REASSEMBLES the shredded layout natively under
    # the same pinned VariantType schema — typed_value subcolumns merge
    # with the residual `value`, field-level residuals and unshredded
    # rows included (verified empirically against a hand-packed
    # fixture, tests/fixtures/foreign/delta_variant_shredded_golden,
    # round-12; VERDICT r11 item 4)
    "variantShredding",
    "variantShredding-preview",
}

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
#: delta-spark splits large checkpoints: N.checkpoint.<part>.<of>.parquet
_MULTI_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)
#: V2 Checkpoint table feature (protocol § "V2 Checkpoint"): a UUID-named
#: top-level file (json or parquet) holding the non-file actions, a
#: checkpointMetadata action, and optionally `sidecar` actions pointing at
#: parquet files under _delta_log/_sidecars/ that carry the add/remove set
_V2_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(json|parquet)$"
)


class DeltaProtocolError(NotImplementedError):
    """Table requires a reader capability this implementation lacks."""


@dataclass
class DeltaSnapshot:
    version: int
    schema: StructType
    partition_columns: tuple[str, ...]
    #: live files: (absolute path, {partition col: raw string or None},
    #: deletionVector descriptor dict or None)
    files: list[tuple[str, dict, dict | None]]
    configuration: dict
    #: per-file data-skipping stats (absolute path -> parsed ``add.stats``
    #: dict with numRecords/minValues/maxValues/nullCount), absent entries
    #: = writer recorded none
    stats: dict = None  # type: ignore[assignment]
    #: the raw metaData action (id/schemaString/configuration/...) — what
    #: a writer must carry forward when it amends table configuration
    raw_meta: dict = None  # type: ignore[assignment]
    #: SetTransaction state (appId -> latest committed txn version) — the
    #: protocol's idempotent-streaming-writer bookkeeping
    txns: dict = None  # type: ignore[assignment]
    #: the raw protocol action (minReader/minWriter + feature lists) —
    #: what a writer must carry forward when it adds a writer feature
    raw_protocol: dict = None  # type: ignore[assignment]
    #: absolute path -> the EXACT raw ``add.path`` string it was committed
    #: under. Remove actions must reuse this key verbatim: the live-file
    #: state is keyed by the raw string, so a remove synthesized as a fresh
    #: relpath would silently miss an add that used an absolute URI (e.g.
    #: export_lake_snapshot / shallow clones) and duplicate its rows.
    raw_paths: dict = None  # type: ignore[assignment]
    #: rowTracking (writer feature): absolute path -> (baseRowId,
    #: defaultRowCommitVersion) for adds that carry them — fresh rows'
    #: ids default to baseRowId + position (surfaced by row_lineage())
    row_tracking: dict = None  # type: ignore[assignment]
    #: live domainMetadata actions ({domain: action dict}) — durable
    #: state our checkpoints must carry (never silently dropped)
    domains: dict = None  # type: ignore[assignment]
    #: remove tombstones seen during replay ({raw path: remove dict}) —
    #: re-emitted by checkpoints within the deletedFileRetentionDuration
    #: window so checkpoint-only replayers see removals explicitly
    tombstones: dict = None  # type: ignore[assignment]


#: delta-spark indexes stats for the first 32 leaf columns by default
#: (spark.databricks.delta.properties.defaults.dataSkippingNumIndexedCols)
_WIDEN_LADDER = ("byte", "short", "integer", "long")
#: decimal digits needed to hold each integral type exactly
_WIDEN_INT_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 20}


def _widening_ok(frm: str, to: str) -> bool:
    """Is ``frm`` -> ``to`` a legal type WIDENING (schema-JSON type
    strings)? The set delta-spark's stable typeWidening feature allows
    AND Spark 4's parquet reader upcasts natively under a pinned schema
    (each pair verified empirically): the integral ladder, float→
    double, integral→double/decimal, decimal precision/scale growth
    that never shrinks integer digits, date→timestamp_ntz."""
    dm_f = re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", frm)
    dm_t = re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", to)
    if frm in _WIDEN_LADDER and to in _WIDEN_LADDER:
        return _WIDEN_LADDER.index(frm) < _WIDEN_LADDER.index(to)
    if frm == "float" and to == "double":
        return True
    if frm in ("byte", "short", "integer") and to == "double":
        return True
    if frm == "date" and to == "timestamp_ntz":
        return True
    if frm in _WIDEN_LADDER and dm_t:
        p, s = int(dm_t.group(1)), int(dm_t.group(2))
        return p - s >= _WIDEN_INT_DIGITS[frm]
    if dm_f and dm_t:
        p1, s1 = int(dm_f.group(1)), int(dm_f.group(2))
        p2, s2 = int(dm_t.group(1)), int(dm_t.group(2))
        return (p2, s2) != (p1, s1) and s2 >= s1 and p2 - s2 >= p1 - s1
    return False


def _iceberg_promotion_ok(frm: str, to: str) -> bool:
    """Iceberg spec § Schema Evolution's legal primitive promotions,
    over schema-JSON type strings."""
    if (frm, to) in (("integer", "long"), ("float", "double")):
        return True
    dm_f = re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", frm)
    dm_t = re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", to)
    return bool(
        dm_f
        and dm_t
        and dm_f.group(2) == dm_t.group(2)
        and int(dm_t.group(1)) > int(dm_f.group(1))
    )


#: z-order-eligible primitives — exactly the types _zorder_key maps;
#: clustering columns must be one of these so OPTIMIZE can cluster
_CLUSTERABLE_TYPES = (
    "byte", "short", "integer", "long", "float", "double",
    "date", "timestamp", "timestamp_ntz", "string",
)


def _clustering_paths(
    schema: StructType,
    cluster_by: Sequence[str],
    partition_by: Sequence[str],
) -> list[list[str]]:
    """Validate CLUSTER BY columns and return the protocol's
    ``clusteringColumns`` value: one physical-name path per column
    (§ Clustered Table stores PHYSICAL names so the domain survives
    RENAME COLUMN under columnMapping). Mirrors delta-spark's rules:
    at most 4 columns, top-level, stats-eligible types, never a
    partition column, no duplicates."""
    cols = list(cluster_by)
    if len(cols) > 4:
        raise ValueError(
            f"CLUSTER BY takes at most 4 columns, got {len(cols)}"
        )
    if len(set(cols)) != len(cols):
        raise ValueError(f"CLUSTER BY has duplicate columns: {cols}")
    by_name = {f.name: f for f in schema.fields}
    paths: list[list[str]] = []
    for c in cols:
        if "." in c:
            raise ValueError(
                f"CLUSTER BY column {c!r}: nested clustering columns "
                "are not supported (top-level only)"
            )
        f = by_name.get(c)
        if f is None:
            raise ValueError(
                f"CLUSTER BY column {c!r} not in table schema "
                f"{sorted(by_name)}"
            )
        if c in partition_by:
            raise ValueError(
                f"CLUSTER BY column {c!r} is a partition column — "
                "clustered tables cannot also partition on the key"
            )
        t = f.dataType.typeName()
        if t not in _CLUSTERABLE_TYPES and not t.startswith("decimal"):
            raise ValueError(
                f"CLUSTER BY column {c!r}: type {t!r} is not "
                "stats-eligible (numeric, decimal, date, timestamp, "
                "string)"
            )
        md = f.metadata or {}
        paths.append(
            [md.get("delta.columnMapping.physicalName", f.name)]
        )
    return paths


def _clustering_logical_cols(snap) -> list[str]:
    """The snapshot's declared clustering columns, mapped back from
    the domain's physical-name paths to LOGICAL names (empty when the
    table is not clustered or was CLUSTER BY NONE'd)."""
    dom = (snap.domains or {}).get("delta.clustering")
    if not dom:
        return []
    try:
        paths = json.loads(dom.get("configuration") or "{}").get(
            "clusteringColumns"
        ) or []
    except (ValueError, TypeError):
        return []
    phys_to_logical = {}
    for f in snap.schema.fields:
        md = f.metadata or {}
        phys_to_logical[
            md.get("delta.columnMapping.physicalName", f.name)
        ] = f.name
    out = []
    for p in paths:
        if len(p) != 1:
            raise DeltaProtocolError(
                f"clustering column path {p!r}: nested clustering "
                "columns are not supported by this writer"
            )
        out.append(phys_to_logical.get(p[0], p[0]))
    return out


def _zorder_key(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-ORDER key column: each column maps to a ``bits``-bit bucket id
    (equi-width over the observed min/max for numerics/dates/
    timestamps — ONE tiny agg job; big-endian 7-byte prefix for
    strings, delta-spark's own truncation trick), then the bucket bits
    INTERLEAVE into one long — rows close in z-value are close in every
    dimension, so sorting by it packs files whose per-column min/max
    stats are tight on ALL the z-order columns at once. Entirely
    codegen expressions: no UDF, no extra shuffle beyond the rewrite's
    own repartition."""
    n = (1 << bits) - 1
    parts = []
    for c in cols:
        t = df.schema[c].dataType.typeName()
        col = F.col(c)
        if t in ("byte", "short", "integer", "long"):
            v = col.cast("double")
        elif t in ("float", "double"):
            v = col.cast("double")
        elif t in ("decimal",) or t.startswith("decimal"):
            v = col.cast("double")
        elif t == "date":
            v = F.datediff(col, F.lit("1970-01-01")).cast("double")
        elif t in ("timestamp", "timestamp_ntz"):
            v = F.unix_timestamp(col).cast("double")
        elif t == "string":
            # EXACT 56-bit number of the first 7 codepoints (clamped
            # to one byte each — ASCII-faithful, lexicographic for the
            # common case): exactness matters because real keys share
            # long prefixes and the discriminating low characters must
            # survive; the (v - min) the bucketing uses keeps the span
            # small enough for the double math downstream
            v = F.lit(0).cast("long")
            for i in range(1, 8):
                cp = F.least(
                    F.coalesce(
                        F.ascii(F.substring(col, i, 1)), F.lit(0)
                    ),
                    F.lit(255),
                ).cast("long")
                v = v * F.lit(256) + cp
        else:
            raise ValueError(
                f"ZORDER BY column {c!r}: type {t!r} has no z-order "
                "mapping (numeric, decimal, date, timestamp, string)"
            )
        parts.append((c, v))
    stats = df.agg(
        *[F.min(v).alias(f"__lo_{i}") for i, (_, v) in enumerate(parts)],
        *[F.max(v).alias(f"__hi_{i}") for i, (_, v) in enumerate(parts)],
    ).collect()[0]
    buckets = []
    for i, (_, v) in enumerate(parts):
        lo = stats[f"__lo_{i}"]
        hi = stats[f"__hi_{i}"]
        if lo is None or hi is None or hi <= lo:
            buckets.append(F.lit(0).cast("long"))
            continue
        # subtract BEFORE the double cast: long-typed keys (string
        # prefixes) stay exact over the span even when their absolute
        # magnitude exceeds double's 53-bit mantissa
        scaled = (
            (v - F.lit(lo)).cast("double")
            / F.lit((float(hi) - float(lo)) / n)
        ).cast("long")
        buckets.append(
            F.coalesce(
                F.least(F.greatest(scaled, F.lit(0)), F.lit(n)),
                F.lit(0),
            )
        )
    ncols = len(buckets)
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                bit * ncols + j,
            )
    return z


def _struct_fields_at(sch: dict, parts: list[str], what: str) -> list:
    """The schema-JSON ``fields`` list of the struct at dotted path
    ``parts`` (empty -> top level). DDL paths run through STRUCTS only
    — list/map elements have no name to address."""
    fields = sch["fields"]
    for p in parts:
        hit = [f for f in fields if f["name"] == p]
        if not hit:
            raise ValueError(
                f"{what}: no column {p!r} on the path "
                f"(have {[f['name'] for f in fields]})"
            )
        t = hit[0]["type"]
        if not (isinstance(t, dict) and t.get("type") == "struct"):
            raise ValueError(
                f"{what}: {p!r} is not a struct — nested DDL paths "
                "address struct fields only (list/map elements have "
                "no name)"
            )
        fields = t["fields"]
    return fields


def _strip_field_metadata(t):
    """The dataType with every nested StructField's metadata removed
    and nullability normalized — for SHAPE comparisons (metadata is
    bookkeeping, and a non-nullable batch value always fits a nullable
    field, delta-spark's own write rule)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(t, StructType):
        return StructType(
            [
                StructField(
                    f.name, _strip_field_metadata(f.dataType), True
                )
                for f in t.fields
            ]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_strip_field_metadata(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(
            _strip_field_metadata(t.keyType),
            _strip_field_metadata(t.valueType),
            True,
        )
    return t


#: delta-spark's metadata key for LIST/MAP element field ids (they have
#: no StructField slot of their own): a {dotted physical path -> id}
#: map stamped on the nearest ancestor field.
_NESTED_IDS_KEY = "parquet.field.nested.ids"


def _assign_mapping_ids(
    field_json: dict, next_id: int, physical: str | None = None
) -> int:
    """Assign ``delta.columnMapping.id`` + ``physicalName`` to a
    schema-JSON field and EVERY nested struct field (the Delta spec
    requires ids on all nested fields under columnMapping), plus
    ``parquet.field.nested.ids`` entries for list/map element
    positions (icebergCompatV2's obligation). Nested physicalNames are
    the logical names — spec-valid (the name is arbitrary; resolution
    uses the metadata) and it keeps file bytes name-resolvable for the
    UniForm Iceberg view. Returns the next free id."""
    md = dict(field_json.get("metadata") or {})
    md["delta.columnMapping.id"] = next_id
    md["delta.columnMapping.physicalName"] = (
        physical or field_json["name"]
    )
    next_id += 1
    nested_ids: dict[str, int] = {}

    def walk(t, path: str) -> None:
        nonlocal next_id
        if isinstance(t, dict) and t.get("type") == "struct":
            for f in t["fields"]:
                fmd = dict(f.get("metadata") or {})
                fmd["delta.columnMapping.id"] = next_id
                fmd["delta.columnMapping.physicalName"] = f["name"]
                f["metadata"] = fmd
                next_id += 1
                walk(f["type"], f"{path}.{f['name']}")
        elif isinstance(t, dict) and t.get("type") == "array":
            nested_ids[f"{path}.element"] = next_id
            next_id += 1
            walk(t["elementType"], f"{path}.element")
        elif isinstance(t, dict) and t.get("type") == "map":
            nested_ids[f"{path}.key"] = next_id
            next_id += 1
            nested_ids[f"{path}.value"] = next_id
            next_id += 1
            walk(t["keyType"], f"{path}.key")
            walk(t["valueType"], f"{path}.value")

    walk(
        field_json["type"], md["delta.columnMapping.physicalName"]
    )
    if nested_ids:
        md[_NESTED_IDS_KEY] = nested_ids
    field_json["metadata"] = md
    return next_id


def _all_mapping_ids(fields: list[dict]):
    """Every columnMapping / nested-element id declared anywhere in a
    schema-JSON field list (for maxColumnId maintenance)."""
    for f in fields:
        md = f.get("metadata") or {}
        if "delta.columnMapping.id" in md:
            yield int(md["delta.columnMapping.id"])
        for v in (md.get(_NESTED_IDS_KEY) or {}).values():
            yield int(v)

        def walk(t):
            if isinstance(t, dict) and t.get("type") == "struct":
                yield from _all_mapping_ids(t["fields"])
            elif isinstance(t, dict) and t.get("type") == "array":
                yield from walk(t["elementType"])
            elif isinstance(t, dict) and t.get("type") == "map":
                yield from walk(t["keyType"])
                yield from walk(t["valueType"])

        yield from walk(f["type"])


def _normalize_char_varchar(t):
    """Schema-JSON type with CHAR(n)/VARCHAR(n) collapsed to string —
    Spark's own table-schema convention (preserveCharVarcharTypeInfo is
    false by default and delta-spark stores the padded types as string
    with a metadata hint, never raw in schemaString)."""
    if isinstance(t, str):
        return (
            "string" if re.match(r"^(var)?char\(\s*\d+\s*\)$", t) else t
        )
    if isinstance(t, dict):
        out = dict(t)
        for k in ("elementType", "keyType", "valueType"):
            if k in out:
                out[k] = _normalize_char_varchar(out[k])
        if out.get("type") == "struct":
            out["fields"] = [
                {**f, "type": _normalize_char_varchar(f["type"])}
                for f in out["fields"]
            ]
        return out
    return t


_STATS_MAX_COLS = 32


def _spark_file_stats(
    spark: SparkSession,
    stage: str,
    schema: StructType,
    partition_by: Sequence[str],
) -> dict[str, str | None]:
    """Per-staged-file ``add.stats`` JSON via ONE distributed Spark
    aggregation — the fallback when pyarrow cannot open the staged
    footers (Spark stamps the parquet VARIANT logical type, unknown to
    pyarrow 16.x). Groups by ``_metadata.file_path``; a zero-row staged
    file produces no group, which callers treat as skip-the-file. Only
    orderable scalar top-level columns get min/max (the same columns the
    footer path would publish; variant/binary/nested are skipped there
    too). Cost: one extra scan of the STAGED batch — O(batch), not
    O(table)."""
    import datetime

    part = set(partition_by)
    statable = [
        f.name
        for f in schema.fields[:_STATS_MAX_COLS]
        if f.name not in part
        and f.dataType.typeName()
        not in ("variant", "binary", "array", "map", "struct")
    ]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in statable:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nc_{c}")
        )
    rows = (
        spark.read.parquet(stage)
        .groupBy(
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:(//)?", ""
            ).alias("__fp")
        )
        .agg(*aggs)
        .collect()
    )  # |staged files| rows — bounded by the batch's task count

    def safe(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, decimal.Decimal):
            # json.dumps cannot serialize Decimal; delta-spark's JSON
            # stats carry decimals as their plain string rendering.
            return str(v)
        return v

    out: dict[str, str | None] = {}
    for row in rows:
        mins, maxs, nulls = {}, {}, {}
        for c in statable:
            lo, hi = safe(row[f"__min_{c}"]), safe(row[f"__max_{c}"])
            if lo is not None and hi is not None:
                mins[c], maxs[c] = lo, hi
            nulls[c] = int(row[f"__nc_{c}"])
        out[row["__fp"]] = json.dumps(
            {
                "numRecords": int(row["__n"]),
                "minValues": mins,
                "maxValues": maxs,
                "nullCount": nulls,
            }
        )
    return out


def _file_stats_json(path: str) -> str | None:
    """Protocol ``add.stats`` JSON straight from the parquet footer (a
    metadata read, no data I/O — the same trick as lake.py's
    _footer_stats): numRecords + per-column minValues/maxValues/
    nullCount for the first 32 leaf columns, skipping columns whose
    footer lacks usable min/max (binary, truncated)."""
    import datetime

    import pyarrow.parquet as pq

    def safe(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, bytes):
            return None
        return v

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for idx in range(min(md.num_columns, _STATS_MAX_COLS)):
        name = md.schema.column(idx).name
        if "." in md.schema.column(idx).path:
            continue  # nested leaves: out of scope for top-level skipping
        lo = hi = None
        nc = 0
        ok = True
        # Publish a nullCount entry ONLY when every row group carries
        # statistics with a known null_count: an absent count published as
        # 0 would let a foreign reader's IS NULL data skipping prune a file
        # that actually holds nulls (omitting the column is always safe).
        nc_known = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None:
                ok = False
                nc_known = False
                break
            if st.null_count is None:
                nc_known = False
            else:
                nc += st.null_count
            if not st.has_min_max:
                ok = False
                continue
            try:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            except NotImplementedError:
                # pyarrow cannot decode stats for some physical types
                # (e.g. decimal) — omitting bounds is always safe
                ok = False
        if nc_known:
            nulls[name] = nc
        if ok and lo is not None and safe(lo) is not None:
            mins[name] = safe(lo)
            maxs[name] = safe(hi)
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


def _dv_file_path(descriptor: dict, table_root: str) -> str:
    """The file a stored deletion vector's descriptor names (protocol
    § Deletion Vector Descriptor Schema): 'u' = relative file named by a
    Z85 uuid (optional random prefix), 'p' = absolute path."""
    from aws_glue_data_lake_spark.roaring64 import z85_decode

    ref = descriptor["pathOrInlineDv"]
    if descriptor["storageType"] == "p":
        return ref
    prefix, encoded = ref[:-20], ref[-20:]
    return os.path.join(
        table_root, *([prefix] if prefix else []),
        f"deletion_vector_{uuid.UUID(bytes=z85_decode(encoded))}.bin",
    )


def _resolve_dv_blob(descriptor: dict, table_root: str) -> bytes:
    """Fetch one deletion vector's RoaringBitmapArray bytes per its add
    action's descriptor: a stored file (:func:`_dv_file_path`) or, for
    storageType 'i', an inline Z85 payload."""
    from aws_glue_data_lake_spark.roaring64 import read_dv_blob, z85_decode

    st = descriptor["storageType"]
    size = descriptor.get("sizeInBytes")
    if st == "i":
        blob = z85_decode(descriptor["pathOrInlineDv"])
        return blob[:size] if size is not None else blob
    if st not in ("u", "p"):
        raise DeltaProtocolError(f"unknown DV storageType {st!r}")
    return read_dv_blob(
        _dv_file_path(descriptor, table_root), descriptor["offset"], size
    )


def _write_dvs(table_root: str, position_sets: list[list[int]]) -> list[dict]:
    """Write one deletion-vector file under ``table_root`` holding one
    roaring bitmap per position set; return each set's 'u' (relative,
    uuid-named) descriptor, in order."""
    from aws_glue_data_lake_spark.roaring64 import (
        serialize_positions,
        write_dv_file,
        z85_encode,
    )

    dv_uuid = uuid.uuid4()
    spans = write_dv_file(
        os.path.join(table_root, f"deletion_vector_{dv_uuid}.bin"),
        [serialize_positions(pos) for pos in position_sets],
    )
    return [
        {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(dv_uuid.bytes),
            "offset": off,
            "sizeInBytes": size,
            "cardinality": len(set(pos)),
        }
        for pos, (off, size) in zip(position_sets, spans)
    ]


class DeltaTableReader:
    """Replay a ``_delta_log`` into a snapshot and scan it with Spark."""

    def __init__(self, path: str):
        self.path = path
        self._log = os.path.join(path, "_delta_log")
        if not os.path.isdir(self._log):
            raise FileNotFoundError(f"no _delta_log under {path}")

    # -- log listing --------------------------------------------------------
    def _commit_versions(self) -> list[int]:
        out = []
        for name in os.listdir(self._log):
            m = _COMMIT_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _checkpoint_versions(self) -> list[int]:
        singles = []
        multi: dict[int, dict[int, int]] = {}
        for name in os.listdir(self._log):
            m = _CHECKPOINT_RE.match(name)
            if m:
                singles.append(int(m.group(1)))
                continue
            m = _V2_CHECKPOINT_RE.match(name)
            if m:
                singles.append(int(m.group(1)))
                continue
            m = _MULTI_CHECKPOINT_RE.match(name)
            if m:
                v, part, of = (int(x) for x in m.groups())
                multi.setdefault(v, {})[part] = of
        # a multi-part checkpoint counts only when COMPLETE (all parts
        # present and agreeing on the part count) — a torn upload must
        # not shadow the commit JSONs it summarizes
        complete = [
            v
            for v, parts in multi.items()
            if len({*parts.values()}) == 1
            and set(parts) == set(range(1, next(iter(parts.values())) + 1))
        ]
        return sorted(set(singles) | set(complete))

    def _checkpoint_files(self, version: int) -> list[str]:
        single = os.path.join(
            self._log, f"{version:020d}.checkpoint.parquet"
        )
        if os.path.exists(single):
            return [single]
        v2 = sorted(
            os.path.join(self._log, n)
            for n in os.listdir(self._log)
            if (m := _V2_CHECKPOINT_RE.match(n))
            and int(m.group(1)) == version
        )
        if v2:
            # multiple UUID files for one version = concurrent writers
            # racing the same checkpoint; any single one is complete by
            # construction, so take the lexically first for determinism
            return v2[:1]
        return sorted(
            os.path.join(self._log, n)
            for n in os.listdir(self._log)
            if (m := _MULTI_CHECKPOINT_RE.match(n))
            and int(m.group(1)) == version
        )

    def latest_version(self) -> int:
        versions = self._commit_versions() + self._checkpoint_versions()
        if not versions:
            raise FileNotFoundError(f"empty _delta_log under {self.path}")
        return max(versions)

    # -- history / timestamp time travel ------------------------------------
    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one row per replayable commit JSON, newest
        first — version, commitInfo timestamp (file mtime fallback for
        foreign writers that omit commitInfo), operation. Versions only
        reachable through a checkpoint (their JSONs cleaned up) are not
        listed, matching delta-spark's retention behavior."""
        out = []
        for v in self._commit_versions():
            p = os.path.join(self._log, f"{v:020d}.json")
            info: dict = {}
            with open(p) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    action = json.loads(line)
                    if "commitInfo" in action:
                        info = action["commitInfo"]
                        break
            out.append(
                {
                    "version": v,
                    # inCommitTimestamp (writer feature inCommitTimestamp)
                    # is the authoritative, monotonic commit time when
                    # present — file mtimes lie after copies/restores,
                    # which is exactly why the feature exists
                    "timestamp": info.get(
                        "inCommitTimestamp",
                        info.get(
                            "timestamp", int(os.path.getmtime(p) * 1000)
                        ),
                    ),
                    "operation": info.get("operation"),
                }
            )
        return sorted(out, key=lambda r: -r["version"])

    def version_at_timestamp(self, timestamp_ms: int) -> int:
        """Timestamp time travel: the latest version committed at or
        before ``timestamp_ms`` (the TIMESTAMP AS OF resolution rule);
        loud error when the timestamp predates the earliest replayable
        commit."""
        candidates = [
            h["version"]
            for h in self.history()
            if h["timestamp"] <= timestamp_ms
        ]
        if not candidates:
            raise ValueError(
                f"no commit at or before timestamp {timestamp_ms} "
                f"(earliest replayable: {self.history()[-1] if self.history() else None})"
            )
        return max(candidates)

    # -- replay -------------------------------------------------------------
    def _apply_action(self, state: dict, action: dict) -> None:
        if "metaData" in action:
            state["metaData"] = action["metaData"]
        elif "protocol" in action:
            # checkpoint rows materialize absent feature lists as nulls;
            # drop them so `"writerFeatures" in proto` stays meaningful
            state["protocol"] = {
                k: v for k, v in action["protocol"].items() if v is not None
            }
        elif "add" in action:
            a = action["add"]
            raw_stats = a.get("stats")
            if isinstance(raw_stats, str) and raw_stats:
                try:
                    raw_stats = json.loads(raw_stats)
                except ValueError:
                    raw_stats = None
            state["files"][a["path"]] = {
                "pv": a.get("partitionValues", {}) or {},
                "dv": a.get("deletionVector"),
                "stats": raw_stats if isinstance(raw_stats, dict) else None,
                # rowTracking (writer feature): fresh rows' ids default
                # to baseRowId + position; carried for row_lineage()
                "base_row_id": a.get("baseRowId"),
                "default_row_commit": a.get("defaultRowCommitVersion"),
            }
            # a re-add (restore / DV rewrite) supersedes the tombstone
            state.get("tombstones", {}).pop(a["path"], None)
        elif "remove" in action:
            rm = action["remove"]
            state["files"].pop(rm["path"], None)
            # tombstone (spec § Add/Remove): retained so checkpoints we
            # write can re-emit it — a checkpoint-only replayer inside
            # the retention window must see the file as REMOVED, not
            # merely absent (absence + a racing vacuum can resurrect)
            state.setdefault("tombstones", {})[rm["path"]] = {
                "path": rm["path"],
                "deletionTimestamp": int(
                    rm.get("deletionTimestamp") or 0
                ),
                "dataChange": bool(rm.get("dataChange", True)),
            }
        elif "txn" in action:
            t = action["txn"]
            txns = state.setdefault("txns", {})
            txns[t["appId"]] = max(
                txns.get(t["appId"], -1), int(t["version"])
            )
        elif "domainMetadata" in action:
            # domain metadata is DURABLE table state (e.g. Databricks'
            # rowTracking high-water mark, clustering state): track it so
            # checkpoints WE write carry it — a checkpoint that dropped
            # it would erase the domain for every post-checkpoint reader
            d = action["domainMetadata"]
            domains = state.setdefault("domains", {})
            if d.get("removed"):
                domains.pop(d.get("domain"), None)
            else:
                domains[d.get("domain")] = {
                    "domain": d.get("domain"),
                    "configuration": d.get("configuration"),
                    "removed": False,
                }
        # commitInfo / cdc: not needed for a scan

    @staticmethod
    def _plain(val):
        """pyarrow surfaces parquet MAP columns as [(k, v), ...] pair
        lists in to_pylist(); normalize them (recursively) to dicts."""
        if isinstance(val, list) and val and all(
            isinstance(x, tuple) and len(x) == 2 for x in val
        ):
            return {k: DeltaTableReader._plain(v) for k, v in val}
        if isinstance(val, dict):
            return {k: DeltaTableReader._plain(v) for k, v in val.items()}
        return val

    def _load_checkpoint(self, state: dict, version: int) -> None:
        import pyarrow.parquet as pq

        def apply_rows(rows: list[dict]) -> list[str]:
            """Apply one checkpoint file's action rows; return any sidecar
            paths it references (V2 Checkpoint feature)."""
            sidecars: list[str] = []
            for row in rows:
                for key in (
                    "metaData", "protocol", "add", "remove", "txn",
                    "domainMetadata",
                ):
                    val = row.get(key)
                    if val is not None:
                        self._apply_action(state, {key: self._plain(val)})
                sc = row.get("sidecar")
                if sc is not None:
                    sidecars.append(self._plain(sc)["path"])
                # checkpointMetadata: v2 marker action — no state to apply
            return sidecars

        # single classic file, one UUID-named v2 file, or every part of a
        # multi-part checkpoint (parts partition the action set — order
        # within them is free)
        sidecars: list[str] = []
        for cp in self._checkpoint_files(version):
            if cp.endswith(".json"):
                # v2 checkpoints may be JSON: one action object per line
                with open(cp) as f:
                    rows = [json.loads(ln) for ln in f if ln.strip()]
            else:
                rows = pq.read_table(cp).to_pylist()
            sidecars.extend(apply_rows(rows))
        # sidecar files live under _delta_log/_sidecars/ (relative names)
        # and carry ONLY file actions (add/remove) — protocol § sidecars
        for rel in sidecars:
            sp = (
                rel
                if os.path.isabs(rel)
                else os.path.join(self._log, "_sidecars", rel)
            )
            if not os.path.exists(sp):
                raise DeltaProtocolError(
                    f"v2 checkpoint references missing sidecar {sp}"
                )
            apply_rows(pq.read_table(sp).to_pylist())

    def snapshot(self, version: int | None = None) -> DeltaSnapshot:
        commits = self._commit_versions()
        cps = self._checkpoint_versions()
        if not commits and not cps:
            raise FileNotFoundError(f"empty _delta_log under {self.path}")
        # Pre-checkpoint commit JSONs may be cleaned up (the protocol's
        # log-retention story): any version covered by a commit file OR a
        # checkpoint is replayable.
        tip = max(commits + cps) if version is None else version
        if tip not in commits and tip not in cps:
            raise FileNotFoundError(
                f"no version {tip} in {self._log} (have {sorted(set(commits + cps))})"
            )
        state: dict = {
            "files": {},
            "metaData": None,
            "protocol": None,
            "txns": {},
        }
        start = 0
        usable_cps = [cp for cp in self._checkpoint_versions() if cp <= tip]
        if usable_cps:
            cp = usable_cps[-1]
            self._load_checkpoint(state, cp)
            start = cp + 1
        for v in commits:
            if start <= v <= tip:
                with open(os.path.join(self._log, f"{v:020d}.json")) as f:
                    for line in f:
                        line = line.strip()
                        if line:
                            self._apply_action(state, json.loads(line))
        self._check_protocol(state)
        meta = state["metaData"]
        if meta is None:
            raise DeltaProtocolError(f"no metaData action by v{tip}")
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        part_cols = tuple(meta.get("partitionColumns", ()))
        files = [
            (self._abs_path(p), d["pv"], d.get("dv"))
            for p, d in sorted(state["files"].items())
        ]
        stats = {
            self._abs_path(p): d["stats"]
            for p, d in state["files"].items()
            if d.get("stats")
        }
        raw_paths = {self._abs_path(p): p for p in state["files"]}
        row_tracking = {
            self._abs_path(p): (
                d.get("base_row_id"),
                d.get("default_row_commit"),
            )
            for p, d in state["files"].items()
            if d.get("base_row_id") is not None
        }
        return DeltaSnapshot(
            version=tip,
            schema=schema,
            partition_columns=part_cols,
            files=files,
            configuration=meta.get("configuration", {}) or {},
            stats=stats,
            raw_meta=meta,
            txns=dict(state.get("txns", {})),
            raw_protocol=dict(state.get("protocol") or {}),
            raw_paths=raw_paths,
            row_tracking=row_tracking,
            domains=dict(state.get("domains", {})),
            tombstones=dict(state.get("tombstones", {})),
        )

    def _abs_path(self, raw: str) -> str:
        # add.path is a RELATIVE url-encoded path (or an absolute URI).
        p = urllib.parse.unquote(raw)
        if p.startswith("file:"):
            p = urllib.parse.urlparse(p).path
        if os.path.isabs(p):
            return p
        return os.path.join(self.path, p)

    def _check_protocol(self, state: dict) -> None:
        proto = state.get("protocol") or {}
        reader = proto.get("minReaderVersion", 1)
        if reader >= 3:
            feats = set(proto.get("readerFeatures", ()))
            bad = feats - _SUPPORTED_READER_FEATURES
            if bad:
                raise DeltaProtocolError(
                    f"unsupported Delta reader features: {sorted(bad)}"
                )
        elif reader > 2:
            raise DeltaProtocolError(
                f"unsupported minReaderVersion {reader}"
            )
        meta = state.get("metaData") or {}
        conf = meta.get("configuration", {}) or {}
        mode = conf.get("delta.columnMapping.mode", "none")
        if mode not in ("none", "name", "id"):
            raise DeltaProtocolError(
                f"column mapping mode {mode!r} not supported (only "
                "'none', 'name' and 'id')"
            )

    @staticmethod
    def _physical_name(field) -> str:
        """Logical -> physical column name under columnMapping=name
        (Databricks-written tables store uuid-ish physical names in the
        schemaString field metadata; file bytes AND partitionValues use
        the physical names, the log's partitionColumns the logical)."""
        md = field.metadata or {}
        return md.get("delta.columnMapping.physicalName", field.name)

    @staticmethod
    def _physical_type(t):
        """The dataType as it appears in FILE BYTES under columnMapping:
        nested STRUCT fields are stored under their own physicalName
        (delta-spark assigns ids/physicalNames to every nested field).
        The scan pins this physical shape and casts back to the logical
        type — struct casts are positional in Spark, so the cast is a
        pure (deep) rename. Fields without nested mapping metadata keep
        their names, so unmapped tables round-trip unchanged."""
        from pyspark.sql.types import ArrayType, MapType

        if isinstance(t, StructType):
            return StructType(
                [
                    StructField(
                        DeltaTableReader._physical_name(f),
                        DeltaTableReader._physical_type(f.dataType),
                        f.nullable,
                    )
                    for f in t.fields
                ]
            )
        if isinstance(t, ArrayType):
            return ArrayType(
                DeltaTableReader._physical_type(t.elementType),
                t.containsNull,
            )
        if isinstance(t, MapType):
            return MapType(
                DeltaTableReader._physical_type(t.keyType),
                DeltaTableReader._physical_type(t.valueType),
                t.valueContainsNull,
            )
        return t

    # -- scan ---------------------------------------------------------------
    def _hive_layout_consistent(self, snap: DeltaSnapshot) -> bool:
        """True when every live file sits in Hive-style partition dirs
        (``col=value/``, spec order) whose raw text equals the log's
        partitionValues — the layout both this writer and delta-spark
        emit. Then Spark's own partition discovery (``basePath``) can
        recover the partition columns: ONE scan node with native
        partition pruning instead of a per-partition-group union, which
        matters once a table holds thousands of live partitions."""
        if snap.configuration.get("delta.columnMapping.mode", "none") != "none":
            return False  # dirs hold PHYSICAL names; skip the fast path
        root = os.path.abspath(self.path)
        for p, pv, _dv in snap.files:
            rel = os.path.relpath(os.path.abspath(p), root)
            if rel.startswith(".."):
                return False  # absolute/foreign reference (shallow clone)
            segs = rel.split(os.sep)[:-1]
            if len(segs) != len(snap.partition_columns):
                return False
            for col, seg in zip(snap.partition_columns, segs):
                raw = pv.get(col)
                want = (
                    f"{col}=__HIVE_DEFAULT_PARTITION__"
                    if raw is None
                    else f"{col}={raw}"
                )
                if seg != want:
                    return False
        return True

    def _apply_dvs(
        self,
        spark: SparkSession,
        scan: DataFrame,
        snap: DeltaSnapshot,
        keep_meta: bool = False,
    ) -> DataFrame:
        """Merge-on-read: anti-join the scan's (file, row position) —
        pre-attached as ``__dv_fp``/``__dv_pos`` at the file source,
        where ``_metadata`` is resolvable — against the snapshot's
        deletion vectors. Descriptors (tiny, driver-side metadata) ship
        to executors where each file's roaring bitmap is fetched and
        expanded — the expansion is distributed and per-file, and the
        resulting tombstone set is positions-only, so it broadcasts at
        any realistic churn (the same plan shape as lake.py's parquet
        DVs and the Iceberg position-delete path)."""
        dv_rows = [
            (p, json.dumps(dv)) for p, _pv, dv in snap.files if dv
        ]
        if not dv_rows:
            return scan
        root = self.path
        out_cols = (
            list(scan.columns)
            if keep_meta
            else [
                c for c in scan.columns if c not in ("__dv_fp", "__dv_pos")
            ]
        )
        tomb = dml.expand_tombstones(
            spark,
            dv_rows,
            "file_path string, dv string",
            lambda row: _resolve_dv_blob(json.loads(row.dv), root),
        )
        return scan.join(
            F.broadcast(tomb),
            (F.col("__dv_fp") == F.col("file_path"))
            & (F.col("__dv_pos") == F.col("pos")),
            "anti",
        ).select(*out_cols)

    @staticmethod
    def _rt_materialized(snap: DeltaSnapshot) -> tuple | None:
        """The table's MATERIALIZED row-tracking column names
        (``delta.rowTracking.materializedRowIdColumnName`` /
        ``...RowCommitVersionColumnName``) — physical long columns in
        the file bytes, set when row tracking is enabled, carrying each
        rewritten row's stable id. None when neither is configured."""
        conf = snap.configuration or {}
        mid = conf.get("delta.rowTracking.materializedRowIdColumnName")
        mver = conf.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName"
        )
        return (mid, mver) if (mid or mver) else None

    def _stable_lineage_scan(
        self,
        spark: SparkSession,
        snap: DeltaSnapshot | None = None,
        keep_paths: set | None = None,
    ) -> DataFrame:
        """Live rows (deletion vectors applied) with ``__rt_sid`` /
        ``__rt_sver`` — each row's STABLE row id and last-update commit
        version per spec § Row Tracking: the materialized per-row value
        when present, else the default (add.baseRowId + row position /
        add.defaultRowCommitVersion). Both :meth:`row_lineage` and the
        writer's id-preserving rewrites build on this scan. Scale: one
        broadcast |files|-sized map joined onto the positional scan; no
        extra data I/O."""
        snap = snap or self.snapshot()
        mid, mver = self._rt_materialized(snap) or (None, None)
        out_cols = [f.name for f in snap.schema.fields]
        files = snap.files
        if keep_paths is not None:
            wanted = {os.path.abspath(p) for p in keep_paths}
            files = [f for f in files if os.path.abspath(f[0]) in wanted]
        if not files:
            empty = spark.createDataFrame([], snap.schema)
            return empty.selectExpr(
                *out_cols,
                "CAST(NULL AS LONG) AS __rt_sid",
                "CAST(NULL AS LONG) AS __rt_sver",
            )
        scan = self._apply_dvs(
            spark,
            self.to_df(
                spark,
                _expose_pos=True,
                _keep_paths=keep_paths,
                _rt_cols=(mid, mver),
            ),
            snap,
            keep_meta=True,
        )
        rt = snap.row_tracking or {}
        rows = [
            (
                p,
                (rt.get(p) or (None, None))[0],
                (rt.get(p) or (None, None))[1],
            )
            for p, _pv, _dv in files
        ]
        fmap = local_df(
            spark, rows, "__rt_fp string, __rt_base long, __rt_ver long"
        )
        default_id = (F.col("__rt_base") + F.col("__dv_pos")).cast("long")
        sid = F.coalesce(F.col(mid), default_id) if mid else default_id
        sver = (
            F.coalesce(F.col(mver), F.col("__rt_ver"))
            if mver
            else F.col("__rt_ver")
        )
        return scan.join(
            F.broadcast(fmap),
            F.col("__dv_fp") == F.col("__rt_fp"),
            "left",
        ).select(
            *out_cols,
            sid.cast("long").alias("__rt_sid"),
            sver.cast("long").alias("__rt_sver"),
        )

    def row_lineage(self, spark: SparkSession) -> DataFrame:
        """Scan with ROW TRACKING columns surfaced (writer feature
        rowTracking — Databricks stamps it widely): the logical schema
        plus ``_row_id`` and ``_row_commit_version`` — each row's
        STABLE values (materialized column when present, else
        add.baseRowId + row position / defaultRowCommitVersion). Files
        whose adds carry no tracking fields surface NULLs — lineage is
        additive metadata, same contract as the Iceberg twin. Deletion
        vectors are applied (a tombstoned row has no id to surface)."""
        snap = self.snapshot()
        return self._stable_lineage_scan(spark, snap).withColumnsRenamed(
            {"__rt_sid": "_row_id", "__rt_sver": "_row_commit_version"}
        )

    def _scan_with_pos(self, spark: SparkSession) -> DataFrame:
        """Logical-schema scan that keeps ``__dv_fp``/``__dv_pos`` (file
        path, row position) and does NOT subtract deletion vectors — the
        write path for :meth:`DeltaTableWriter.delete_where`, which
        unions matched positions into the per-file bitmaps (re-matching
        an already-deleted row is idempotent there)."""
        return self.to_df(spark, _expose_pos=True)

    def to_df(
        self,
        spark: SparkSession,
        version: int | None = None,
        stats_filter: dict | None = None,
        partition_filter: dict | None = None,
        timestamp_ms: int | None = None,
        _expose_pos: bool = False,
        _keep_paths: set | None = None,
        _rt_cols: tuple | None = None,
    ) -> DataFrame:
        """Plan a Spark scan of exactly the snapshot's live files.
        Partition columns are NOT in the data files (Delta's layout):
        when the live files sit in consistent Hive dirs (the common
        case) they come back through Spark's own partition discovery in
        a single scan with native partition pruning; otherwise they
        attach as typed literals from each add-action's
        ``partitionValues``, grouped by partition tuple so planning is
        O(#live partitions). Under columnMapping=name the scan reads the
        files' PHYSICAL names and aliases back to the logical schema.
        Deletion vectors apply merge-on-read (see :meth:`_apply_dvs`).

        ``stats_filter`` ({col: (lo, hi)}, closed interval) prunes files
        by the log's ``add.stats`` min/max BEFORE planning — manifest-
        level data skipping, the same move delta-spark makes from a
        pushed predicate. It is conservative (files without stats for
        the column are kept) and is a SCAN hint only: the caller still
        applies the real predicate to the returned DataFrame. Timestamp
        bounds compare as the ISO strings the stats store.

        ``partition_filter`` ({col: raw string value or None}) prunes by
        the log's partitionValues before planning — unlike the Spark-
        side partition pruning the basePath fast path already gets for
        free, this never even LISTS the excluded files into the plan
        (and works on the literal-group fallback too)."""
        if timestamp_ms is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp_ms, not both")
            version = self.version_at_timestamp(timestamp_ms)
        snap = self.snapshot(version)
        if _keep_paths is not None:
            # internal: restrict the plan to an exact file subset (the
            # MERGE rewrite reads ONLY the affected files; DVs of those
            # files still apply because _apply_dvs walks snap.files)
            wanted = {os.path.abspath(p) for p in _keep_paths}
            snap.files = [
                f for f in snap.files if os.path.abspath(f[0]) in wanted
            ]
        if partition_filter:
            phys_by_logical = {
                f.name: self._physical_name(f) for f in snap.schema.fields
            }
            unknown = set(partition_filter) - set(snap.partition_columns)
            if unknown:
                raise ValueError(
                    f"partition_filter columns {sorted(unknown)} are not "
                    f"partition columns {list(snap.partition_columns)}"
                )
            tests = {
                phys_by_logical.get(k, k): (
                    None if v is None else str(v)
                )
                for k, v in partition_filter.items()
            }
            snap.files = [
                (p, pv, dv)
                for p, pv, dv in snap.files
                if all(pv.get(c) == v for c, v in tests.items())
            ]
        if stats_filter:
            def keep(path: str) -> bool:
                st = (snap.stats or {}).get(path)
                if not st:
                    return True
                for col, (lo, hi) in stats_filter.items():
                    fmin = st.get("minValues", {}).get(col)
                    fmax = st.get("maxValues", {}).get(col)
                    if fmin is None or fmax is None:
                        continue
                    try:
                        if (hi is not None and fmin > hi) or (
                            lo is not None and fmax < lo
                        ):
                            return False
                    except TypeError:
                        continue  # incomparable hint: keep the file
                return True

            snap.files = [f for f in snap.files if keep(f[0])]
        # rowTracking MATERIALIZED columns (delta.rowTracking.
        # materialized{RowId,RowCommitVersion}ColumnName): physical-only
        # long columns living in the file bytes but NOT in the table
        # schema — surfaced verbatim for lineage readers/preserving
        # rewrites; files that predate them read NULL (the per-row
        # fallback to baseRowId + position / defaultRowCommitVersion)
        rt_cols = [c for c in (_rt_cols or ()) if c]
        rt_fields = [StructField(c, LongType(), True) for c in rt_cols]
        if not snap.files:
            return spark.createDataFrame(
                [], StructType(list(snap.schema.fields) + rt_fields)
            )
        part_cols = snap.partition_columns
        phys = self._physical_name
        data_fields = [f for f in snap.schema.fields if f.name not in part_cols]
        cm_mode = snap.configuration.get("delta.columnMapping.mode", "none")
        if rt_cols and cm_mode == "id":
            raise DeltaProtocolError(
                "materialized row-tracking columns under "
                "columnMapping=id are not supported by this reader"
            )
        ptype = self._physical_type
        data_st = StructType(
            [
                StructField(phys(f), ptype(f.dataType), f.nullable)
                for f in data_fields
            ]
            + rt_fields
        )
        fid_of: dict = {}
        if cm_mode == "id":
            # columnMapping=id: files resolve by PARQUET FIELD ID
            # (delta.columnMapping.id <-> the files' field ids), not by
            # name. Resolution is done from the files' own footers in
            # read_data() below — per-footer mapping groups, no global
            # spark.sql.parquet.fieldId conf mutation (that conf is read
            # at ACTION time, so a reader flipping it permanently changes
            # the shared session AND cannot handle a mixed table anyway).
            for f in data_fields:
                md = f.metadata or {}
                if "delta.columnMapping.id" not in md:
                    raise DeltaProtocolError(
                        f"columnMapping=id but field {f.name!r} carries "
                        "no delta.columnMapping.id metadata"
                    )
                fid_of[int(md["delta.columnMapping.id"])] = f
        out_cols = [f.name for f in snap.schema.fields]
        has_dvs = any(dv for _, _, dv in snap.files) or _expose_pos
        pos_cols = ["__dv_fp", "__dv_pos"] if has_dvs else []

        def finish(scan: DataFrame) -> DataFrame:
            return scan if _expose_pos else self._apply_dvs(spark, scan, snap)

        def with_pos(src: DataFrame) -> DataFrame:
            """Attach (file, row position) AT THE FILE SOURCE — the
            hidden ``_metadata`` struct resolves only there, not after
            projections or unions."""
            if not has_dvs:
                return src
            return src.select(
                "*",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:(//)?", ""
                ).alias("__dv_fp"),
                F.col("_metadata.row_index").alias("__dv_pos"),
            )

        def logical(df: DataFrame) -> DataFrame:
            # struct casts are positional: casting the physical-named
            # nested shape to the logical dataType is a pure deep rename
            return df.select(
                *[
                    (
                        F.col(phys(f)).cast(f.dataType).alias(f.name)
                        if ptype(f.dataType) != f.dataType
                        else F.col(phys(f)).alias(f.name)
                    )
                    for f in data_fields
                ],
                *rt_cols,
                *pos_cols,
            )

        def read_data(paths: list[str]) -> DataFrame:
            """Scan data files under their canonical PHYSICAL names,
            ``__dv_*`` position columns attached at the file source.
            columnMapping=id resolves columns by parquet field ID from
            each file's own footer: one scan group per distinct
            ``{id -> on-disk name}`` mapping (bounded by the number of
            schema evolutions, not files), aliased back to the
            canonical physical names; a field the file predates
            backfills NULL (standard evolution semantics)."""
            if cm_mode != "id":
                return with_pos(spark.read.schema(data_st).parquet(*paths))
            from aws_glue_data_lake_spark.fieldids import (
                group_paths_by_mapping,
                parquet_field_id_mappings,
            )

            parts = []
            groups = group_paths_by_mapping(
                paths, parquet_field_id_mappings(paths)
            )
            for m, ps in groups:
                if not m:
                    raise DeltaProtocolError(
                        "columnMapping=id but data file(s) carry no "
                        f"parquet field IDs: {ps[:3]}"
                    )
                st = StructType(
                    [
                        StructField(m[fid], ptype(fld.dataType), True)
                        for fid, fld in sorted(fid_of.items())
                        if fid in m
                    ]
                )
                sel = [
                    (
                        F.col(m[fid]).alias(phys(fld))
                        if fid in m
                        else F.lit(None)
                        .cast(ptype(fld.dataType))
                        .alias(phys(fld))
                    )
                    for fid, fld in (
                        (int((f.metadata or {})["delta.columnMapping.id"]), f)
                        for f in data_fields
                    )
                ]
                parts.append(
                    with_pos(spark.read.schema(st).parquet(*ps)).select(
                        *sel, *pos_cols
                    )
                )
            df = parts[0]
            for g in parts[1:]:
                df = df.unionByName(g)
            return df

        if not part_cols:
            scan = logical(read_data([p for p, _, _ in snap.files]))
            return finish(scan)
        if self._hive_layout_consistent(snap):
            scan = with_pos(
                spark.read.schema(
                    StructType(list(snap.schema.fields) + rt_fields)
                )
                .option("basePath", self.path)
                .parquet(*[p for p, _, _ in snap.files])
            ).select(*out_cols, *rt_cols, *pos_cols)
            return finish(scan)
        part_fields = [f for f in snap.schema.fields if f.name in part_cols]
        groups: dict[tuple, list[str]] = {}
        for p, pv, _dv in snap.files:
            # partitionValues are keyed by PHYSICAL name in the log
            key = tuple(pv.get(phys(f)) for f in part_fields)
            groups.setdefault(key, []).append(p)
        dfs = []
        for key, paths in sorted(
            groups.items(), key=lambda kv: tuple(str(k) for k in kv[0])
        ):
            g = logical(read_data(paths))
            for f, v in zip(part_fields, key):
                if v is None:
                    g = g.withColumn(f.name, F.lit(None).cast(f.dataType))
                else:
                    g = g.withColumn(f.name, F.lit(v).cast(f.dataType))
            dfs.append(g.select(*out_cols, *rt_cols, *pos_cols))
        df = dfs[0]
        for g in dfs[1:]:
            df = df.unionByName(g)
        return finish(df)

    def cdf_schema(self) -> StructType:
        """The Change Data Feed output schema: table columns plus the
        protocol's virtual ``_change_type`` / ``_commit_version`` /
        ``_commit_timestamp`` columns (shared by batch :meth:`changes`
        and the ``delta_cdf`` streaming source)."""
        from pyspark.sql.types import LongType, StringType, TimestampType

        snap = self.snapshot()
        return StructType(
            list(snap.schema.fields)
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_version", LongType(), False),
                StructField("_commit_timestamp", TimestampType(), False),
            ]
        )

    def _change_entries(
        self, v: int
    ) -> tuple[int, list[tuple[str, dict, str | None]]]:
        """Parse commit ``v`` into its row-level change file list:
        ``(timestamp_ms, [(abs_path, partitionValues, change_type)])``.
        ``change_type`` is None for explicit cdc files (they carry their
        own ``_change_type`` column in the file bytes), ``"insert"`` for
        add-only derivation, ``"delete"`` for remove-only derivation.
        Unreplayable commits (pre-enablement rewrites, DV traffic without
        cdc actions, vacuumed removes) raise — never a silent wrong feed."""
        commit = os.path.join(self._log, f"{v:020d}.json")
        if not os.path.exists(commit):
            raise FileNotFoundError(
                f"commit {v} JSON no longer exists (log cleaned up); "
                "its changes cannot be replayed"
            )
        ts: int | None = None
        cdc: list[dict] = []
        adds: list[dict] = []
        removes: list[dict] = []
        with open(commit) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    ci = a["commitInfo"]
                    ts = ci.get("inCommitTimestamp", ci.get("timestamp", ts))
                elif "cdc" in a:
                    cdc.append(a["cdc"])
                elif "add" in a and a["add"].get("dataChange", True):
                    adds.append(a["add"])
                elif "remove" in a and a["remove"].get("dataChange", True):
                    removes.append(a["remove"])
        if ts is None:
            ts = int(os.path.getmtime(commit) * 1000)
        if cdc:
            return ts, [
                (self._abs_path(c["path"]), c.get("partitionValues", {}), None)
                for c in cdc
            ]
        if adds and not removes:
            if any(a.get("deletionVector") for a in adds):
                raise DeltaProtocolError(
                    f"commit {v} adds files with deletion vectors and "
                    "no cdc actions; enable "
                    "delta.enableChangeDataFeed before such writes"
                )
            return ts, [
                (
                    self._abs_path(a["path"]),
                    a.get("partitionValues", {}),
                    "insert",
                )
                for a in adds
            ]
        if removes and not adds:
            prev = self.snapshot(v - 1)
            by_abs = {
                os.path.abspath(p): (p, pv, dv) for p, pv, dv in prev.files
            }
            entries: list[tuple[str, dict, str | None]] = []
            for rm in removes:
                ap = os.path.abspath(self._abs_path(rm["path"]))
                _p, pv, dv = by_abs.get(ap, (ap, {}, None))
                if dv:
                    raise DeltaProtocolError(
                        f"commit {v} removes a file carrying a deletion "
                        "vector and has no cdc actions; its row-level "
                        "delta is unrecoverable"
                    )
                if not os.path.exists(ap):
                    raise FileNotFoundError(
                        f"commit {v} removed {ap}, which was since "
                        "vacuumed; its deleted rows cannot be replayed"
                    )
                entries.append((ap, pv, "delete"))
            return ts, entries
        if adds and removes:
            raise DeltaProtocolError(
                f"commit {v} rewrites files (add+remove with "
                "dataChange) without cdc actions; enable "
                "delta.enableChangeDataFeed before such writes to "
                "make its changes replayable"
            )
        return ts, []  # metadata-only / dataChange:false commit

    def changes(
        self,
        spark: SparkSession,
        starting_version: int = 0,
        ending_version: int | None = None,
        starting_timestamp_ms: int | None = None,
        ending_timestamp_ms: int | None = None,
    ) -> DataFrame:
        """Change Data Feed read (delta-spark's ``readChangeFeed`` /
        ``table_changes``): one row per row-level change across commits
        ``starting_version..ending_version`` inclusive, with the
        protocol's virtual columns ``_change_type`` (insert / delete /
        update_preimage / update_postimage), ``_commit_version`` and
        ``_commit_timestamp`` appended to the table schema.

        Per commit, explicit ``cdc`` actions win — the writer's exact
        row-level delta (merge / delete / overwrite under
        ``delta.enableChangeDataFeed``). Without them, an add-only
        commit derives ``insert`` rows from the added files (blind
        appends never need cdc files) and a remove-only commit derives
        ``delete`` rows from the removed files (readable until vacuum).
        A commit that both adds and removes with ``dataChange: true``
        and has no cdc actions is a rewrite whose row-level delta is
        unrecoverable — that raises, matching delta-spark's error for
        pre-enablement commits. ``dataChange: false`` traffic (OPTIMIZE)
        is skipped.

        Scale: the per-commit action parse is driver-side metadata, and
        the common shapes — insert-derived adds and explicit cdc files,
        both living in the writer's Hive layout — read as ONE basePath
        scan each, with ``_commit_version``/``_commit_timestamp``
        attached by a broadcast (file → commit) join on
        ``_metadata.file_path``: plan size stays O(1) in the commit
        count (the per-commit-union fallback planned in ~250 ms/commit,
        i.e. minutes for a year of commits, before a row was read).
        Remove-only delete derivations and non-Hive/columnMapped layouts
        take the per-partition-group literal fallback."""
        from pyspark.sql.types import StringType

        snap = self.snapshot()
        if starting_timestamp_ms is not None:
            # delta-spark's startingTimestamp: the FIRST commit at or
            # after the timestamp (a timestamp past the tip is an error
            # there too — no silent empty feed)
            later = [
                h["version"]
                for h in self.history()
                if h["timestamp"] >= starting_timestamp_ms
            ]
            if not later:
                raise ValueError(
                    f"no commit at or after timestamp "
                    f"{starting_timestamp_ms}"
                )
            starting_version = min(later)
        if ending_timestamp_ms is not None:
            # endingTimestamp: the LAST commit at or before it
            ending_version = self.version_at_timestamp(ending_timestamp_ms)
        end = self.latest_version() if ending_version is None else ending_version
        if starting_version > end:
            raise ValueError(
                f"starting_version {starting_version} > ending_version {end}"
            )
        part_cols = set(snap.partition_columns)
        part_fields = [f for f in snap.schema.fields if f.name in part_cols]
        data_fields = [f for f in snap.schema.fields if f.name not in part_cols]
        out_cols = [f.name for f in snap.schema.fields]
        # columnMapping=name (Databricks layout): file bytes and
        # partitionValues use PHYSICAL names; cdc files keep the virtual
        # _change_type column unmapped per the protocol. Read physical,
        # alias back to logical — the same move as to_df.
        phys = self._physical_name
        data_st = StructType(
            [
                StructField(
                    phys(f), self._physical_type(f.dataType), f.nullable
                )
                for f in data_fields
            ]
        )
        cdc_st = StructType(
            list(data_st.fields)
            + [StructField("_change_type", StringType(), True)]
        )
        full_st = self.cdf_schema()

        def read_group(
            entries: list[tuple[str, dict]], file_schema, extra: list[str]
        ) -> DataFrame:
            """Read (abs path, partitionValues) entries grouped by
            partition tuple, partition columns attached as typed
            literals — O(#distinct changed partitions) plan nodes."""
            groups: dict[tuple, list[str]] = {}
            for p, pv in entries:
                key = tuple(pv.get(phys(f)) for f in part_fields)
                groups.setdefault(key, []).append(p)
            dfs = []
            for key, paths in sorted(
                groups.items(), key=lambda kv: tuple(str(k) for k in kv[0])
            ):
                g = spark.read.schema(file_schema).parquet(*paths).select(
                    *[
                        (
                            F.col(phys(f)).cast(f.dataType).alias(f.name)
                            if self._physical_type(f.dataType)
                            != f.dataType
                            else F.col(phys(f)).alias(f.name)
                        )
                        for f in data_fields
                    ],
                    *extra,
                )
                for f, v in zip(part_fields, key):
                    g = g.withColumn(
                        f.name,
                        F.lit(v).cast(f.dataType)
                        if v is not None
                        else F.lit(None).cast(f.dataType),
                    )
                dfs.append(g.select(*out_cols, *extra))
            df = dfs[0]
            for g in dfs[1:]:
                df = df.unionByName(g)
            return df

        mapped = (
            snap.configuration.get("delta.columnMapping.mode", "none")
            not in ("", "none")
        )

        # Gather every commit's change entries once, splitting the
        # single-scan candidates (cdc / derived-insert files) from the
        # always-per-commit delete derivations.
        fast: dict = {"insert": [], None: []}
        slow_by_version: dict[int, list] = {}
        ts_by_version: dict[int, int] = {}
        for v in range(starting_version, end + 1):
            ts, entries = self._change_entries(v)
            if not entries:
                continue  # metadata-only / dataChange:false commit
            ts_by_version[v] = ts
            for p, pv, ct in entries:
                if ct == "delete":
                    slow_by_version.setdefault(v, []).append((p, pv, ct))
                else:
                    fast[ct].append((p, pv, v))

        def hive_consistent(base: str, ents: list) -> bool:
            """The staged-file layout check for an arbitrary entry list:
            every file under ``base`` in spec-order ``col=value`` dirs
            whose raw text equals its partitionValues — then basePath
            partition discovery reconstructs the columns in ONE scan."""
            root = os.path.abspath(base)
            for p, pv, _v in ents:
                rel = os.path.relpath(os.path.abspath(p), root)
                if rel.startswith(".."):
                    return False
                segs = rel.split(os.sep)[:-1]
                if len(segs) != len(part_fields):
                    return False
                for f, seg in zip(part_fields, segs):
                    raw = pv.get(f.name)
                    want = (
                        f"{f.name}=__HIVE_DEFAULT_PARTITION__"
                        if raw is None
                        else f"{f.name}={raw}"
                    )
                    if seg != want:
                        return False
            return True

        pieces: list[DataFrame] = []
        for ct, ents in sorted(
            fast.items(), key=lambda kv: str(kv[0])
        ):
            if not ents:
                continue
            paths = [os.path.abspath(p) for p, _pv, _v in ents]
            base = (
                os.path.join(self.path, "_change_data")
                if ct is None
                else self.path
            )
            # a path re-added across commits (RESTORE) would join to
            # both versions after a single scan — per-commit fallback
            if (
                mapped
                or len(set(paths)) != len(paths)
                or not hive_consistent(base, ents)
            ):
                for p, pv, v in ents:
                    slow_by_version.setdefault(v, []).append((p, pv, ct))
                continue
            file_schema = (
                StructType(
                    list(snap.schema.fields)
                    + [StructField("_change_type", StringType(), True)]
                )
                if ct is None
                else snap.schema
            )
            vmap = local_df(
                spark,
                [
                    (p, v, ts_by_version[v])
                    for p, (_raw, _pv, v) in zip(paths, ents)
                ],
                "__v_fp string, __v long, __ts long",
            )
            scan = (
                spark.read.schema(file_schema)
                .option("basePath", base)
                .parquet(*paths)
                .select(
                    "*",
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:(//)?", ""
                    ).alias("__fp"),
                )
            )
            j = scan.join(
                F.broadcast(vmap), F.col("__fp") == F.col("__v_fp"), "inner"
            )
            if ct == "insert":
                j = j.withColumn("_change_type", F.lit("insert"))
            pieces.append(
                j.select(
                    *out_cols,
                    "_change_type",
                    F.col("__v").cast("long").alias("_commit_version"),
                    F.timestamp_millis(F.col("__ts")).alias(
                        "_commit_timestamp"
                    ),
                )
            )

        for v in sorted(slow_by_version):
            entries = slow_by_version[v]
            ts = ts_by_version[v]
            parts: list[DataFrame] = []
            cdc_e = [(p, pv) for p, pv, ct in entries if ct is None]
            if cdc_e:
                parts.append(read_group(cdc_e, cdc_st, ["_change_type"]))
            for derived in ("insert", "delete"):
                grp = [(p, pv) for p, pv, ct in entries if ct == derived]
                if grp:
                    parts.append(
                        read_group(grp, data_st, []).withColumn(
                            "_change_type", F.lit(derived)
                        )
                    )
            df = parts[0]
            for g in parts[1:]:
                df = df.unionByName(g)
            pieces.append(
                df.withColumn(
                    "_commit_version", F.lit(v).cast("long")
                ).withColumn(
                    "_commit_timestamp", F.timestamp_millis(F.lit(ts))
                )
            )
        if not pieces:
            return spark.createDataFrame([], full_st)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out


class ConcurrentModificationError(RuntimeError):
    """A read-dependent commit (MERGE / DELETE / OPTIMIZE / RESTORE /
    overwrite) lost the version race to a commit it may have needed to
    read. The table is untouched — re-run the operation against the new
    tip. Blind appends never raise this: they re-validate and retry
    automatically (see :meth:`DeltaTableWriter.append`)."""


# Delta's OptimisticTransaction retries a handful of times before
# surfacing a conflict; 10 covers any realistic same-table writer fleet
# without masking a livelock.
_MAX_COMMIT_RETRIES = 10


def _coerce_pv(raw: str, like):
    """Parse a Delta ``partitionValues`` raw string into the python type
    of ``like`` (a batch bound). None when unparseable — the caller then
    treats the value as unknown (conservative keep)."""
    import datetime
    import decimal

    try:
        if isinstance(like, bool):
            return raw == "true"
        if isinstance(like, int):
            return int(raw)
        if isinstance(like, float):
            return float(raw)
        if isinstance(like, decimal.Decimal):
            return decimal.Decimal(raw)
        if isinstance(like, datetime.datetime):
            return datetime.datetime.fromisoformat(raw)
        if isinstance(like, datetime.date):
            return datetime.date.fromisoformat(raw)
        return raw
    except (ValueError, TypeError, decimal.InvalidOperation):
        return None


def _key_range_overlaps(st: dict | None, keys, ranges, pv=None) -> bool:
    """Can a file hold a row whose key tuple falls inside the batch's
    per-key ``ranges`` (``(lo, hi)`` pairs aligned with ``keys``)? Each
    key checks the file's ``partitionValues`` (exact:
    min == max == the value; a NULL partition value can never
    equi-match, so the file is provably disjoint) or, failing that, its
    data-skipping stats [min,max]. True unless some key is provably
    disjoint — missing or incomparable evidence keeps the file
    (conservative). min/max ignore NULL keys and NULL keys never
    equi-match, so range pruning stays sound. Shared by MERGE's
    candidate-file pruning and its commit-time conflict check (the same
    predicate applied to a concurrent winner's add action)."""
    pv = pv or {}
    for k, (lo, hi) in zip(keys, ranges):
        if lo is None or hi is None:
            continue
        if k in pv:
            if pv[k] is None:
                return False  # every row has NULL k: no equi-match
            fmin = fmax = _coerce_pv(pv[k], lo)
        else:
            fmin = ((st or {}).get("minValues") or {}).get(k)
            fmax = ((st or {}).get("maxValues") or {}).get(k)
        if fmin is None or fmax is None:
            continue
        if hasattr(lo, "isoformat") and isinstance(fmin, str):
            lo, hi = lo.isoformat(), hi.isoformat()
        try:
            if fmin > hi or fmax < lo:
                return False
        except TypeError:
            continue  # incomparable: keep the file
    return True


class DeltaTableWriter:
    """Emit the Delta transaction-log protocol: create / append /
    overwrite commits plus classic parquet checkpoints. Commits are
    O_EXCL-atomic on the version file, the same optimistic-concurrency
    primitive the protocol specifies for a filesystem log store.

    Concurrency model (delta-spark's ConflictChecker, conservatively):
    a blind ``append`` that loses the version race re-reads the new
    snapshot, re-validates constraints/schema against it, and retries at
    the next version — two concurrent appenders both succeed, exactly
    like delta-spark. Read-dependent operations (``merge``,
    ``delete_where``, ``overwrite_partition``, ``optimize``,
    ``restore``, property changes) raise
    :class:`ConcurrentModificationError` on any collision instead of
    guessing whether the winner invalidated their read set — strict
    Serializable, never wrong data; the caller re-runs against the new
    tip."""

    def __init__(self, path: str):
        self.path = path
        self._log = os.path.join(path, "_delta_log")

    # -- data-file staging --------------------------------------------------
    def _stage_files(
        self, df: DataFrame, partition_by: Sequence[str], cdc: bool = False
    ) -> list[dict]:
        """Write df as uniquely-named parquet files in Delta's layout
        (partition columns in Hive dirs and partitionValues, NOT in the
        file bytes) and return their add actions.

        With ``cdc=True`` the files land under ``_change_data/`` (the
        protocol's Change Data Feed layout — df carries the extra
        ``_change_type`` column in the file bytes, partition columns
        still live only in dirs + partitionValues) and the returned
        dicts are ``cdc`` actions: no stats, ``dataChange: false`` per
        the spec (CDF files describe a change, they are not table
        content)."""
        import glob
        import shutil

        stage = os.path.join(self.path, f"_stage_{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            # Fan-out writes invert the committer trade-off the session
            # default (v2, session.py) makes for flat stages: v2 renames
            # every file serially inside task commit, and with many Hive
            # dirs per task that serial chain beats v1's dir-level merge
            # (measured +1.3 s on a 124-dir append). Per-write option —
            # DataFrameWriter options merge into the job's Hadoop conf.
            writer = writer.partitionBy(*partition_by).option(
                "mapreduce.fileoutputcommitter.algorithm.version", "1"
            )
        writer.parquet(stage)
        staged = sorted(
            glob.glob(
                os.path.join(stage, "**", "part-*.parquet"), recursive=True
            )
        )
        # VARIANT columns: Spark stamps the parquet VARIANT logical type,
        # which pyarrow (16.x) cannot open — fall back to ONE distributed
        # Spark pass for per-file numRecords + min/max/nullCount (a file
        # absent from the map staged zero rows). Same stats payload,
        # different reader; pyarrow stays the cheap footer-only default.
        spark_stats: dict[str, str | None] | None = None
        if staged and not cdc:
            import pyarrow.parquet as _pq

            try:
                _pq.ParquetFile(staged[0])
            except OSError:
                spark_stats = _spark_file_stats(
                    df.sparkSession, stage, df.schema, partition_by
                )
        adds = []
        for src in staged:
            # empty partitions stage empty part files — committing them
            # would bloat the log with zero-row adds (and poison
            # manifest-only MIN/MAX: a statless empty file forces the
            # conservative watermark to give up). Skip DATA files only:
            # an empty cdc file is load-bearing — it is how a rewrite
            # commit whose row-level delta is genuinely empty (e.g. a
            # delete re-matching only already-tombstoned rows) declares
            # "no changes" to CDF replay, which otherwise must refuse
            # the add+remove commit as unreplayable.
            import pyarrow.parquet as _pq

            if not cdc:
                if spark_stats is not None:
                    if src not in spark_stats:  # zero staged rows
                        continue
                elif _pq.ParquetFile(src).metadata.num_rows == 0:
                    continue
            rel_dir = os.path.relpath(os.path.dirname(src), stage)
            segs = rel_dir.split(os.sep) if rel_dir != "." else []
            partition_values = {}
            for seg in segs:
                k, _, v = seg.partition("=")
                partition_values[k] = (
                    None
                    if v == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(v)
                )
            stem = "cdc" if cdc else "part"
            name = f"{stem}-{uuid.uuid4().hex}.snappy.parquet"
            top = ["_change_data"] if cdc else []
            rel = "/".join([*top, *segs, name])
            dst = os.path.join(self.path, *top, *segs, name)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(src, dst)
            action = {
                "path": urllib.parse.quote(rel),
                "partitionValues": partition_values,
                "size": os.path.getsize(dst),
                "dataChange": False if cdc else True,
            }
            if not cdc:
                action["modificationTime"] = int(os.path.getmtime(dst) * 1000)
                action["stats"] = (
                    spark_stats[src]
                    if spark_stats is not None
                    else _file_stats_json(dst)
                )
            adds.append(action)
        if cdc and not adds:
            # the row-level delta is genuinely empty but the commit still
            # rewrites files (e.g. dropping a fully-tombstoned file): a
            # partitioned stage of an empty DataFrame writes NO part
            # files, yet CDF replay needs an explicit (empty) cdc action
            # to know the rewrite carries no row changes — otherwise it
            # must refuse the add+remove commit as unreplayable.
            shutil.rmtree(stage, ignore_errors=True)
            df.limit(0).coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = glob.glob(os.path.join(stage, "part-*.parquet"))
            name = f"cdc-{uuid.uuid4().hex}.snappy.parquet"
            dst = os.path.join(self.path, "_change_data", name)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(src, dst)
            adds.append(
                {
                    "path": urllib.parse.quote(f"_change_data/{name}"),
                    "partitionValues": {},
                    "size": os.path.getsize(dst),
                    "dataChange": False,
                }
            )
        shutil.rmtree(stage, ignore_errors=True)
        return adds

    def _ict_enabled(self, version: int, actions: list[dict]) -> bool:
        """Does THIS commit need an inCommitTimestamp stamp? The commit's
        own metaData action decides first (the enablement commit itself
        must carry a stamp, per spec); otherwise the table state at
        ``version - 1``, cached per writer instance."""
        for a in actions:
            if "metaData" in a:
                conf = a["metaData"].get("configuration") or {}
                if "delta.enableInCommitTimestamps" in conf:
                    self._ict_on = (
                        conf["delta.enableInCommitTimestamps"] == "true"
                    )
                    return self._ict_on
        if getattr(self, "_ict_on", None) is None:
            if version == 0:
                self._ict_on = False
            else:
                try:
                    conf = (
                        DeltaTableReader(self.path)
                        .snapshot(version - 1)
                        .configuration
                        or {}
                    )
                except Exception:
                    conf = {}
                self._ict_on = (
                    conf.get("delta.enableInCommitTimestamps") == "true"
                )
        return self._ict_on

    def _prev_ict(self, version: int) -> int:
        """inCommitTimestamp of commit ``version - 1`` (0 when absent or
        pre-enablement) — the monotonicity floor for the next stamp."""
        p = os.path.join(self._log, f"{version - 1:020d}.json")
        try:
            with open(p) as f:
                for line in f:
                    if not line.strip():
                        continue
                    a = json.loads(line)
                    if "commitInfo" in a:
                        return int(
                            a["commitInfo"].get("inCommitTimestamp", 0)
                        )
        except FileNotFoundError:
            pass
        return 0

    def _with_row_tracking(
        self, version: int, actions: list[dict]
    ) -> list[dict]:
        """Writer feature rowTracking (spec § Row Tracking): when the
        feature is SUPPORTED (present in writerFeatures — even if
        delta.enableRowTracking is false), every committed add action
        must carry fresh row ids: ``baseRowId`` allocated from the
        ``delta.rowTracking`` domain's ``rowIdHighWaterMark`` (rows get
        baseRowId + position) and ``defaultRowCommitVersion`` = this
        commit's version; the domain's high-water mark advances in the
        same commit. Remove actions carry the removed file's ids so
        checkpoints and CDF replay keep lineage reconstructible.

        Runs INSIDE the commit attempt (per retry), against the tip
        snapshot at ``version - 1`` — a rebase after losing a version
        race re-allocates from the WINNER's high-water mark, never
        duplicating ids. Returns a new action list; never mutates the
        caller's (retries re-enter with the original, unassigned
        actions). Adds that already carry a baseRowId (restore re-adds
        of live files) keep it verbatim — row ids are immutable once
        assigned."""
        if version <= 0 or not any(
            "add" in a or "remove" in a for a in actions
        ):
            return actions
        # per-writer cache: tables without the feature pay ONE snapshot
        # read per writer lifetime, not one per commit (invalidated by
        # protocol-changing commits in _commit)
        if getattr(self, "_rt_feature", None) is False:
            return actions
        try:
            r = DeltaTableReader(self.path)
            snap = r.snapshot(version - 1)
        except FileNotFoundError:
            return actions
        feats = set((snap.raw_protocol or {}).get("writerFeatures", ()))
        self._rt_feature = "rowTracking" in feats
        if not self._rt_feature:
            return actions
        dom = (snap.domains or {}).get("delta.rowTracking") or {}
        try:
            hwm = int(
                json.loads(dom.get("configuration") or "{}").get(
                    "rowIdHighWaterMark", -1
                )
            )
        except (ValueError, TypeError):
            hwm = -1
        hwm0 = hwm
        out: list[dict] = []
        for a in actions:
            if "add" in a and a["add"].get("baseRowId") is None:
                add = dict(a["add"])
                stats = add.get("stats")
                try:
                    n = int(json.loads(stats)["numRecords"])
                except (TypeError, ValueError, KeyError):
                    raise DeltaProtocolError(
                        f"rowTracking: add {add.get('path')!r} has no "
                        "numRecords stat to allocate row ids from"
                    ) from None
                add["baseRowId"] = hwm + 1
                add["defaultRowCommitVersion"] = version
                hwm += n
                out.append({**a, "add": add})
            elif "remove" in a and a["remove"].get("baseRowId") is None:
                rm = dict(a["remove"])
                rt = (snap.row_tracking or {}).get(
                    r._abs_path(rm["path"])
                )
                if rt is not None:
                    rm["baseRowId"], rm["defaultRowCommitVersion"] = rt
                out.append({**a, "remove": rm})
            else:
                out.append(a)
        if hwm != hwm0:
            cfg = json.dumps({"rowIdHighWaterMark": hwm})
            out = [x for x in out if x.get("domainMetadata", {}).get(
                "domain") != "delta.rowTracking"]
            out.append(
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": cfg,
                        "removed": False,
                    }
                }
            )
        return out

    def _commit(
        self, version: int, actions: list[dict], operation: str = "WRITE"
    ) -> None:
        import time as _time

        actions = self._with_row_tracking(version, actions)
        os.makedirs(self._log, exist_ok=True)
        target = os.path.join(self._log, f"{version:020d}.json")
        if not any("commitInfo" in a for a in actions):
            # commitInfo leads the commit (delta-spark's layout): it is
            # what timestamp-based time travel and DESCRIBE HISTORY read
            ci: dict = {
                "timestamp": int(_time.time() * 1000),
                "operation": operation,
                "engineInfo": "aws-glue-data-lake-spark/deltacompat",
            }
            if self._ict_enabled(version, actions):
                # writer feature inCommitTimestamp: the authoritative,
                # MONOTONIC commit time (file mtimes lie after copies) —
                # never at or below the previous commit's stamp
                ci["inCommitTimestamp"] = max(
                    ci["timestamp"], self._prev_ict(version) + 1
                )
            actions = [{"commitInfo": ci}] + actions
        payload = "".join(json.dumps(a) + "\n" for a in actions)
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, payload.encode())
        finally:
            os.close(fd)
        if any("protocol" in a for a in actions):
            # a feature set change (e.g. enabling rowTracking) must be
            # seen by the NEXT commit's row-id assignment
            self._rt_feature = None
        # delta-spark's checkpoint policy: every delta.checkpointInterval
        # commits (default 10, 0 disables) a classic checkpoint lands, so
        # log replay stays O(interval) actions forever — the property
        # that keeps a million-commit table's snapshot() bounded. The
        # post-commit snapshot read here is itself O(interval) by
        # induction. Failure never poisons the landed commit: the
        # checkpoint is an optimization, the next multiple retries it.
        tip_snap = None  # shared by the checkpoint + uniform probes
        if version > 0:
            try:
                interval = getattr(self, "_cp_interval", None)
                if interval is None or any(
                    "metaData" in a for a in actions
                ):
                    tip_snap = DeltaTableReader(self.path).snapshot(
                        version
                    )
                    interval = int(
                        (tip_snap.configuration or {}).get(
                            "delta.checkpointInterval", 10
                        )
                    )
                    self._cp_interval = interval
                if interval > 0 and version % interval == 0:
                    self.checkpoint(version)
            except Exception:
                pass
        # UniForm: the Iceberg metadata view moves in LOCKSTEP with the
        # delta log (the icebergCompatV2 writer obligation). Per-writer
        # cache so non-uniform tables pay zero extra reads (the probe
        # reuses the checkpoint block's snapshot when both fire on the
        # same first-commit/metaData-bearing calls); invalidated by any
        # config/protocol-touching commit. The gate already proved the
        # protocol invariants pre-commit, so a failure here is I/O — it
        # propagates loudly, but the message states the Delta commit
        # itself is durable.
        uni = getattr(self, "_uniform_on", None)
        if uni is None or any(
            ("metaData" in a) or ("protocol" in a) for a in actions
        ):
            try:
                uni = self._uniform_active(
                    tip_snap
                    if tip_snap is not None
                    else DeltaTableReader(self.path).snapshot(version)
                )
            except FileNotFoundError:
                uni = False
            self._uniform_on = uni
        if uni:
            from aws_glue_data_lake_spark.icebergcompat import (
                IcebergProtocolError,
                sync_uniform,
            )

            try:
                sync_uniform(self.path)
            except IcebergProtocolError as e:
                raise DeltaProtocolError(
                    f"uniform sync after durable Delta commit "
                    f"{version} failed (the Delta table is intact; "
                    f"the Iceberg view lags until the next sync): {e}"
                ) from e

    def _commit_read_dependent(
        self,
        version: int,
        actions: list[dict],
        operation: str,
        *,
        read_files: set[str] | None = None,
        add_conflict=True,
    ) -> int:
        """Commit for operations whose actions depend on what they READ
        (merge/delete/optimize/restore/metadata changes), with
        delta-spark ConflictChecker semantics: a version-race loss
        re-reads each WINNING commit and rebases (re-commits the same
        staged actions at the next version) when the winner is logically
        disjoint from this transaction's read set; only a genuine
        overlap surfaces :class:`ConcurrentModificationError`.

        ``read_files``: absolute paths this operation scanned (its read
        set). ``None`` means whole-table semantics — any winner remove
        conflicts. ``add_conflict`` says when a winner's
        ``dataChange=true`` add invalidates the read: ``True`` = always
        (the operation's predicate could match the new rows), ``False``
        = never (e.g. OPTIMIZE — compaction rewrites bytes it read;
        concurrently appended files simply stay live), or a callable
        ``add_action -> bool`` (e.g. MERGE key-range pruning applied to
        the winner's add.stats). Returns the version that landed."""
        r0 = DeltaTableReader(self.path)
        own_removes = {
            os.path.abspath(r0._abs_path(a["remove"]["path"]))
            for a in actions
            if "remove" in a
        }
        own_txn_apps = {
            a["txn"].get("appId") for a in actions if "txn" in a
        }
        base = version - 1
        v = version
        for _ in range(_MAX_COMMIT_RETRIES):
            try:
                self._commit(v, actions, operation)
                return v
            except FileExistsError:
                r = DeltaTableReader(self.path)
                latest = r.snapshot().version
                for wv in range(v, latest + 1):
                    reason = self._winner_conflicts(
                        r,
                        wv,
                        read_files,
                        own_removes,
                        own_txn_apps,
                        add_conflict,
                    )
                    if reason:
                        raise ConcurrentModificationError(
                            f"{operation} on {self.path} prepared against "
                            f"version {base}, lost the race and cannot "
                            f"rebase: {reason}; re-run the operation "
                            "against the new table state"
                        ) from None
                v = latest + 1
        raise ConcurrentModificationError(
            f"{operation} on {self.path} exceeded {_MAX_COMMIT_RETRIES} "
            "rebase attempts against concurrent disjoint commits"
        )

    def _winner_conflicts(
        self,
        r: "DeltaTableReader",
        wv: int,
        read_files: set[str] | None,
        own_removes: set[str],
        own_txn_apps: set,
        add_conflict,
    ) -> str | None:
        """Logical-conflict check of one already-landed commit ``wv``
        against this transaction (delta-spark's ConflictChecker, commit
        granularity): metadata/protocol changes always conflict;
        removing a file this txn read or also removes conflicts
        (concurrent-delete-read / delete-delete); a ``dataChange`` add
        conflicts per ``add_conflict``; same-appId SetTransaction
        advances conflict. Returns the reason, or None when disjoint."""
        path = os.path.join(self._log, f"{wv:020d}.json")
        try:
            with open(path) as fh:
                acts = [json.loads(ln) for ln in fh if ln.strip()]
        except FileNotFoundError:
            return f"commit {wv} is not readable"
        for a in acts:
            if "metaData" in a:
                return f"commit {wv} changed table metadata"
            if "protocol" in a:
                return f"commit {wv} changed the protocol"
            if "txn" in a and a["txn"].get("appId") in own_txn_apps:
                return (
                    f"commit {wv} advanced SetTransaction appId "
                    f"{a['txn'].get('appId')!r} this operation also sets"
                )
            if "remove" in a:
                ap = os.path.abspath(r._abs_path(a["remove"]["path"]))
                if (
                    read_files is None
                    or ap in read_files
                    or ap in own_removes
                ):
                    return (
                        f"commit {wv} removed {a['remove']['path']!r}, "
                        "which this operation read or also removes"
                    )
            if "add" in a and a["add"].get("dataChange", True):
                conflicts = (
                    add_conflict(a["add"])
                    if callable(add_conflict)
                    else bool(add_conflict)
                )
                if conflicts:
                    return (
                        f"commit {wv} added {a['add'].get('path')!r} whose "
                        "rows this operation's read predicate may match"
                    )
        return None

    @staticmethod
    def _create_protocol(schema: StructType) -> dict:
        """Smallest protocol a fresh table with this schema may declare:
        plain schemas get the legacy (1,2); TIMESTAMP_NTZ or VARIANT
        columns are reader-visible type features, so their presence
        forces the feature-list protocol (3,7) with the features named —
        a (1,2) table whose schemaString smuggles them in would be read
        wrong (or refused) by conforming foreign readers."""

        def walk(dt) -> set[str]:
            tn = dt.typeName()
            if tn == "timestamp_ntz":
                return {"timestampNtz"}
            if tn == "variant":
                return {"variantType"}
            if tn == "array":
                return walk(dt.elementType)
            if tn == "map":
                return walk(dt.keyType) | walk(dt.valueType)
            if tn == "struct":
                out: set[str] = set()
                for f in dt.fields:
                    out |= walk(f.dataType)
                return out
            return set()

        feats: set[str] = set()
        for f in schema.fields:
            feats |= walk(f.dataType)
        if not feats:
            return {"minReaderVersion": 1, "minWriterVersion": 2}
        return {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(feats),
            "writerFeatures": sorted(
                {"appendOnly", "invariants"} | feats
            ),
        }

    def _meta_actions(
        self, schema: StructType, partition_by: Sequence[str]
    ) -> list[dict]:
        return [
            {"protocol": self._create_protocol(schema)},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema.jsonValue()),
                    "partitionColumns": list(partition_by),
                    "configuration": {},
                    "createdTime": 0,
                }
            },
        ]

    def create(
        self,
        df: DataFrame,
        partition_by: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
    ) -> "DeltaTableReader":
        """``cluster_by`` creates a LIQUID-CLUSTERED table (protocol
        § Clustered Table — Databricks' default layout for new tables,
        ``CREATE TABLE … CLUSTER BY``): writer features
        ``clusteredTable`` + ``domainMetadata`` and the
        ``delta.clustering`` domain naming the clustering columns (as
        physical-name paths). Clustering is best-effort LAYOUT — the
        data lands as given here; :meth:`optimize` (no ZORDER args)
        reads the domain and clusters by it."""
        if os.path.isdir(self._log) and any(
            _COMMIT_RE.match(n) for n in os.listdir(self._log)
        ):
            raise FileExistsError(f"Delta table already exists: {self.path}")
        os.makedirs(self.path, exist_ok=True)
        meta_actions = self._meta_actions(df.schema, partition_by)
        if cluster_by:
            paths = _clustering_paths(
                df.schema, cluster_by, partition_by
            )
            proto = meta_actions[0]["protocol"]
            wf = set(proto.get("writerFeatures", ()))
            if not wf:
                # legacy (1,2) implies these; naming a feature list
                # requires writer v7 with ALL features spelled out
                wf = {"appendOnly", "invariants"}
            wf |= {"clusteredTable", "domainMetadata"}
            proto["minWriterVersion"] = 7
            proto["writerFeatures"] = sorted(wf)
            meta_actions.append(
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        "configuration": json.dumps(
                            {"clusteringColumns": paths}
                        ),
                        "removed": False,
                    }
                }
            )
        adds = self._stage_files(df, partition_by)
        self._commit(
            0,
            meta_actions + [{"add": a} for a in adds],
        )
        return DeltaTableReader(self.path)

    def set_cluster_by(self, cluster_by: Sequence[str]) -> int:
        """``ALTER TABLE … CLUSTER BY (cols)`` / ``CLUSTER BY NONE``
        (empty ``cluster_by``): one metadata-only commit replacing the
        ``delta.clustering`` domain (delta-spark keeps the domain with
        an empty column list for NONE — the feature, once stamped,
        stays). Upgrades the protocol if the table was not clustered
        before. Data files do not move; the next :meth:`optimize`
        clusters by the new columns."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(snap, "set_cluster_by")
        paths = (
            _clustering_paths(
                snap.schema, cluster_by, snap.partition_columns or ()
            )
            if cluster_by
            else []
        )
        rf, wf = self._feature_lists(
            snap, extra_writer={"clusteredTable", "domainMetadata"}
        )
        proto = (
            {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": rf,
                "writerFeatures": wf,
            }
            if rf
            else {
                "minReaderVersion": (snap.raw_protocol or {}).get(
                    "minReaderVersion", 1
                ),
                "minWriterVersion": 7,
                "writerFeatures": wf,
            }
        )
        actions = [
            {"protocol": proto},
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": paths}
                    ),
                    "removed": False,
                }
            },
        ]
        return self._commit_read_dependent(
            snap.version + 1,
            actions,
            operation="CLUSTER BY",
            read_files=set(),
            add_conflict=False,
        )

    def clone_from(
        self,
        src_path: str,
        version: int | None = None,
        timestamp_ms: int | None = None,
    ) -> "DeltaTableReader":
        """SHALLOW CLONE of a real Delta table (delta-spark's
        ``CREATE TABLE ... SHALLOW CLONE src [VERSION AS OF n]``; the
        reference's destination is exactly such a table,
        delta/delta_tables.py:87-88, and forking a dev copy of it is
        the standard maintenance idiom): ONE metadata-only v0 commit at
        THIS path whose add actions reference the source snapshot's
        live files by absolute ``file://`` URI — the protocol-blessed
        mechanism the reader already resolves (raw_paths /
        _raw_key). Zero data bytes move; cost is O(#live files) of
        driver-side metadata.

        Carried verbatim from the source snapshot: protocol (feature
        lists), schemaString, partitionColumns, table configuration,
        per-file partitionValues + stats (so data skipping keeps
        working), row-tracking base ids + the ``delta.rowTracking``
        high-water-mark domain (stable row ids survive the clone), and
        every other live domainMetadata. The metaData ``id`` is FRESH —
        the clone is a new table. Deletion vectors carry rebased to
        absolute-path (``storageType 'p'``) descriptors pointing at the
        source's DV bins, since 'u' references resolve relative to the
        table root. SetTransaction state does NOT carry (delta-spark:
        stream metadata is not cloned).

        The clone then diverges freely both ways: its writes land
        clone-local files (removes of carried files use the raw
        absolute key), the source never learns the clone exists, and
        ``vacuum`` on either side only ever deletes files under its OWN
        root — with the standard Delta caveat that vacuuming the SOURCE
        past the cloned version can collect files the clone still
        references."""
        r = DeltaTableReader(src_path)
        if timestamp_ms is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp_ms, not both")
            version = r.version_at_timestamp(timestamp_ms)
        snap = r.snapshot(version)
        if os.path.isdir(self._log) and any(
            _COMMIT_RE.match(n) for n in os.listdir(self._log)
        ):
            raise FileExistsError(
                f"Delta table already exists: {self.path}"
            )
        os.makedirs(self.path, exist_ok=True)
        meta = dict(snap.raw_meta or {})
        meta["id"] = str(uuid.uuid4())
        proto = snap.raw_protocol or {
            "minReaderVersion": 1,
            "minWriterVersion": 2,
        }
        src_root = os.path.abspath(src_path)
        actions: list[dict] = [
            {"protocol": proto},
            {"metaData": meta},
        ]
        for name, dom in sorted((snap.domains or {}).items()):
            actions.append({"domainMetadata": dom})
        rt = snap.row_tracking or {}
        for p, pv, dv in snap.files:
            ap = os.path.abspath(p)
            add: dict = {
                "path": "file://" + urllib.parse.quote(ap),
                "partitionValues": pv,
                "size": os.path.getsize(ap),
                "modificationTime": int(os.path.getmtime(ap) * 1000),
                "dataChange": True,
            }
            st = (snap.stats or {}).get(p)
            if st is not None:
                add["stats"] = json.dumps(st)
            if dv:
                dvc = dict(dv)
                if dvc.get("storageType") == "u":
                    dvc["pathOrInlineDv"] = _dv_file_path(dv, src_root)
                    dvc["storageType"] = "p"
                add["deletionVector"] = dvc
            base = rt.get(p)
            if base is not None:
                if base[0] is not None:
                    add["baseRowId"] = int(base[0])
                if base[1] is not None:
                    add["defaultRowCommitVersion"] = int(base[1])
            actions.append({"add": add})
        self._commit(0, actions, operation="CLONE")
        return DeltaTableReader(self.path)

    @staticmethod
    def _check_constraints(df: DataFrame, configuration: dict) -> None:
        """Enforce ``delta.constraints.<name>`` CHECK expressions on the
        incoming rows — the writer-side contract delta-spark applies
        (protocol writer feature checkConstraints): a violating batch
        must fail the COMMIT, not poison the table."""
        if DeltaTableWriter._cdf_enabled(configuration):
            DeltaTableWriter._check_no_reserved_cdf_columns(df)
        for key, expr in sorted(configuration.items()):
            if not key.startswith("delta.constraints."):
                continue
            name = key[len("delta.constraints.") :]
            bad = df.where(f"NOT ({expr}) OR ({expr}) IS NULL")
            if not bad.isEmpty():
                sample = bad.limit(3).collect()
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated by "
                    f"{len(sample)}+ incoming row(s), e.g. {sample[0]}"
                )

    def _raw_key(self, snap: DeltaSnapshot, p: str) -> str:
        """The exact log key a remove / re-add for live file ``p`` must
        use: the raw ``add.path`` string it was committed under. The live
        state is a dict keyed by that raw string, so an add made with an
        absolute ``file://`` URI (export_lake_snapshot, shallow clones,
        any foreign writer) can only be removed under that same URI — a
        freshly synthesized relpath would silently fail to pop it and
        every carried row would duplicate."""
        raw = (snap.raw_paths or {}).get(p)
        if raw is not None:
            return raw
        return urllib.parse.quote(os.path.relpath(p, self.path))

    @staticmethod
    def _require_mutable(
        snap: DeltaSnapshot, what: str, adds_content: bool = True
    ) -> None:
        if snap.configuration.get("delta.appendOnly", "").lower() == "true":
            raise ValueError(
                f"table is delta.appendOnly=true: {what} is not allowed"
            )
        DeltaTableWriter._check_writer_features(
            snap, what, adds_content=adds_content
        )

    #: Writer features this writer actually HONORS (protocol: a writer
    #: must implement every listed writerFeature before committing —
    #: writing past an unimplemented one silently breaks the invariant
    #: that feature protects, e.g. un-generated generated columns).
    _SUPPORTED_WRITER_FEATURES = {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "changeDataFeed",
        "columnMapping",
        "deletionVectors",
        "timestampNtz",
        "inCommitTimestamp",
        "v2Checkpoint",
        "typeWidening",
        "typeWidening-preview",
        "variantType",
        "variantType-preview",
        # shredding is a PER-FILE choice (VariantShredding.md): files
        # carrying only the unshredded (metadata, value) pair stay
        # spec-valid in a shredded table, so this writer's unshredded
        # variant stages satisfy the feature's write obligation
        "variantShredding",
        "variantShredding-preview",
        "vacuumProtocolCheck",
        # generated columns are computed-if-absent / validated-if-present
        # by _apply_generated_columns on every content-adding commit
        "generatedColumns",
        # domain metadata is tracked in snapshot state and carried
        # through checkpoints; this writer never removes a domain
        "domainMetadata",
        # IDENTITY values generated beyond delta.identity.highWaterMark
        # on append/merge-insert (explicit values per
        # allowExplicitInsert); the mark advances via a metaData action
        # in the same commit; UPDATE on identity columns is refused
        "identityColumns",
        # fresh ids are allocated per commit from the delta.rowTracking
        # domain's high-water mark (_with_row_tracking); CoW rewrites
        # preserve stable ids via the materialized columns
        # (_rt_preserve_ctx/_rt_materialize); DV deletes / restore /
        # checkpoint carry ids through
        "rowTracking",
        # constrains reader-side CDF availability bookkeeping only
        "checkpointProtection",
        # liquid clustering: clustering is best-effort LAYOUT — the
        # feature's writer obligation is preserving the clustering
        # domain metadata, which this writer carries through state
        # and checkpoints; not clustering new files degrades locality,
        # never correctness. Databricks stamps this on most new tables,
        # so refusing it would refuse most real destinations. This
        # writer also creates/alters clustered tables (create
        # cluster_by / set_cluster_by) and OPTIMIZE clusters by the
        # declared columns (_clustering_logical_cols).
        "clusteredTable",
        # collations (preview): the FEATURE alone is write-safe — it is
        # stamped proactively on tables with zero collated columns, and
        # binary-collated data has no special obligations. A column
        # that actually DECLARES a non-binary collation makes stats
        # ordering and MERGE equality collation-sensitive, which this
        # writer does not implement — _check_writer_features refuses
        # exactly that case with a targeted message.
        "collations",
        "collations-preview",
        # column defaults (CURRENT_DEFAULT field metadata): a defaulted
        # column absent from an incoming batch is filled with its
        # default expression by _apply_default_columns on every
        # content-adding commit — the spec's INSERT obligation
        # (PROTOCOL.md § Default Columns)
        "allowColumnDefaults",
        # UniForm (PROTOCOL.md § Iceberg Compatibility): when ACTIVE
        # (delta.enableIcebergCompatV1/V2=true) the gate enforces the
        # compat invariants (columnMapping on, no DV writes — see
        # delete_where) and _commit regenerates the zero-copy Iceberg
        # metadata view after every commit (icebergcompat.sync_uniform)
        # whenever delta.universalFormat.enabledFormats names iceberg
        "icebergCompatV1",
        "icebergCompatV2",
    }

    #: Writer features whose obligation CANNOT be met by any engine
    #: that lacks the table's external commit coordinator: commits must
    #: go through the coordinator named in the table's configuration,
    #: not the filesystem PUT-if-absent this writer performs. A
    #: targeted refusal (not the generic gate) so the user learns WHAT
    #: is required, not just that a feature is unknown.
    _COORDINATED_FEATURES = {
        "coordinatedCommits",
        "coordinatedCommits-preview",
        "catalogManaged",
        "catalogManaged-preview",
        "catalogOwned-preview",
    }

    @staticmethod
    def _check_writer_features(
        snap: DeltaSnapshot, what: str, adds_content: bool = True
    ) -> None:
        """Protocol write gate: refuse to commit into a table whose
        writerFeatures include something this writer does not implement
        — the spec's rule, and the honest alternative to corrupting the
        invariant the feature protects."""
        proto = snap.raw_protocol or {}
        feats = set(proto.get("writerFeatures", ()))
        coord = feats & DeltaTableWriter._COORDINATED_FEATURES
        if coord:
            conf = snap.configuration or {}
            coordinator = (
                conf.get("delta.coordinatedCommits.commitCoordinator-preview")
                or conf.get("delta.coordinatedCommits.commitCoordinator")
                or "<unnamed>"
            )
            raise DeltaProtocolError(
                f"{what}: table is coordinated/catalog-owned "
                f"({sorted(coord)}): every commit must go through its "
                f"commit coordinator ({coordinator!r}), which this "
                "filesystem-based writer has no endpoint for — writing "
                "directly would fork the table's commit history. Use "
                "the owning catalog's engine for writes; reads here "
                "remain valid for the published filesystem tail."
            )
        bad = feats - DeltaTableWriter._SUPPORTED_WRITER_FEATURES
        if bad:
            raise DeltaProtocolError(
                f"{what}: table requires writer feature(s) "
                f"{sorted(bad)} this writer does not implement"
            )
        if {"collations", "collations-preview"} & feats:
            collated = DeltaTableWriter._collated_columns(snap)
            if collated:
                raise DeltaProtocolError(
                    f"{what}: column(s) {sorted(collated)} declare a "
                    "non-binary collation; stats ordering and MERGE "
                    "key equality under a collation are writer "
                    "obligations this engine does not implement — "
                    "reads remain valid (the annotation does not "
                    "change the bytes->rows mapping)"
                )
        # icebergCompat invariants are checked BEFORE the commit so the
        # post-commit uniform sync can only fail on I/O, never on
        # protocol grounds (the Delta commit would already be durable)
        if {"icebergCompatV1", "icebergCompatV2"} & feats:
            conf = snap.configuration or {}
            active = any(
                conf.get(f"delta.enableIcebergCompat{v}", "").lower()
                == "true"
                for v in ("V1", "V2")
            )
            if active:
                cm = conf.get("delta.columnMapping.mode", "none")
                if cm in ("", "none"):
                    raise DeltaProtocolError(
                        f"{what}: icebergCompat is active but "
                        "columnMapping is off — the compat invariant "
                        "requires parquet field ids so Iceberg readers "
                        "can resolve columns"
                    )
                # the FULL syncability check (schema expressible as an
                # Iceberg schema, partition value types serializable)
                # runs here, pre-commit: a post-commit sync refusal
                # would leave the views permanently diverged while a
                # retrying caller duplicates rows (ADVICE r12)
                from aws_glue_data_lake_spark.icebergcompat import (
                    IcebergProtocolError,
                    check_uniform_syncable,
                )

                try:
                    check_uniform_syncable(
                        snap.schema.fields, snap.partition_columns
                    )
                except IcebergProtocolError as e:
                    raise DeltaProtocolError(
                        f"{what}: icebergCompat is active but the "
                        f"table cannot be synced to an Iceberg view "
                        f"— refusing BEFORE the commit: {e}"
                    ) from e

    @staticmethod
    def _collated_columns(snap: DeltaSnapshot) -> set[str]:
        """Columns declaring a NON-BINARY collation. The preview stores
        them in StructField metadata under ``__COLLATIONS``, which
        Spark 4's ``StructType.fromJson`` CONSUMES into a collated
        ``StringType`` — so detection walks the TYPES."""
        out: set[str] = set()

        def collated(t) -> bool:
            coll = getattr(t, "collation", None)
            if coll and str(coll).upper() != "UTF8_BINARY":
                return True
            tn = t.typeName()
            if tn == "array":
                return collated(t.elementType)
            if tn == "map":
                return collated(t.keyType) or collated(t.valueType)
            if tn == "struct":
                return any(collated(f.dataType) for f in t.fields)
            return False

        for f in snap.schema.fields:
            if collated(f.dataType):
                out.add(f.name)
        return out

    @staticmethod
    def _iceberg_compat_enabled(snap: DeltaSnapshot) -> bool:
        """icebergCompat ACTIVE: the feature is declared AND
        delta.enableIcebergCompatV1/V2 is true. This is the predicate
        every compat INVARIANT keys on (no DV writes, columnMapping,
        syncable schema) — it holds even when
        delta.universalFormat.enabledFormats does not name iceberg,
        because the invariants protect OTHER engines' ability to
        generate the Iceberg view, not just this writer's own sync."""
        feats = set(
            (snap.raw_protocol or {}).get("writerFeatures", ())
        )
        if not ({"icebergCompatV1", "icebergCompatV2"} & feats):
            return False
        conf = snap.configuration or {}
        return any(
            conf.get(f"delta.enableIcebergCompat{v}", "").lower()
            == "true"
            for v in ("V1", "V2")
        )

    @staticmethod
    def _uniform_active(snap: DeltaSnapshot) -> bool:
        """Should every commit regenerate the Iceberg metadata view?
        Yes when icebergCompat is enabled AND
        delta.universalFormat.enabledFormats names iceberg (Databricks
        stamps all three together on UniForm tables)."""
        if not DeltaTableWriter._iceberg_compat_enabled(snap):
            return False
        formats = (snap.configuration or {}).get(
            "delta.universalFormat.enabledFormats", ""
        ).lower()
        return "iceberg" in formats

    def _rt_preserve_ctx(
        self, snap: DeltaSnapshot, what: str
    ) -> tuple | None:
        """Should a REWRITE of existing rows materialize stable row
        ids? Yes whenever the rowTracking feature is supported and the
        materialized column names are configured (delta-spark preserves
        in the 'suspended' state too, so re-enablement keeps working).
        With delta.enableRowTracking=true preservation is MANDATORY
        (spec § Row Tracking), so an enabled table without the
        materialized-column config refuses the rewrite rather than
        silently reassigning every row's identity."""
        feats = set(
            (snap.raw_protocol or {}).get("writerFeatures", ())
        )
        if "rowTracking" not in feats:
            return None
        mat = DeltaTableReader._rt_materialized(snap)
        enabled = (
            snap.configuration.get("delta.enableRowTracking", "").lower()
            == "true"
        )
        if enabled and (mat is None or not mat[0]):
            raise DeltaProtocolError(
                f"{what}: delta.enableRowTracking=true but delta."
                "rowTracking.materializedRowIdColumnName is unset; "
                "stable row ids cannot be preserved through this rewrite"
            )
        return mat

    @staticmethod
    def _rt_materialize(
        df: DataFrame, rtc: tuple, preserve_ver: bool
    ) -> DataFrame:
        """Stamp a rewrite batch's stable lineage (``__rt_sid`` /
        ``__rt_sver`` from :meth:`DeltaTableReader._stable_lineage_scan`)
        into the MATERIALIZED columns: row id always (identity survives
        the rewrite), commit version only for rows NOT logically changed
        — an updated row's NULL falls back to the new add's
        defaultRowCommitVersion, i.e. 'last updated here'."""
        mid, mver = rtc
        if mid:
            df = df.withColumn(mid, F.col("__rt_sid"))
        if mver:
            df = df.withColumn(
                mver,
                F.col("__rt_sver")
                if preserve_ver
                else F.lit(None).cast("long"),
            )
        return df.drop("__rt_sid", "__rt_sver")

    @staticmethod
    def _apply_default_columns(
        df: DataFrame, snap: DeltaSnapshot
    ) -> DataFrame:
        """Writer feature allowColumnDefaults (CURRENT_DEFAULT field
        metadata, PROTOCOL.md § Default Columns): a defaulted column
        ABSENT from an incoming batch is filled with its default
        expression — the spec's obligation for INSERT-shaped writes
        (append / MERGE insert / partition overwrite). A column PRESENT
        in the batch is never touched: NULL is an explicit value under
        the spec, and defaults must not overwrite it. UPDATE keeps the
        stored value (defaults only apply to ``SET col = DEFAULT``,
        which the SQL front door does not yet accept — loud parse
        error, never a silent wrong value).

        One ``withColumn`` per missing defaulted column — pure codegen
        projection, no shuffle, scale-free."""
        dflt = {
            f.name: (f.metadata or {}).get("CURRENT_DEFAULT")
            for f in snap.schema.fields
            if (f.metadata or {}).get("CURRENT_DEFAULT")
        }
        for name, expr in sorted(dflt.items()):
            if name not in df.columns:
                df = df.withColumn(
                    name, F.expr(expr).cast(snap.schema[name].dataType)
                )
        return df

    @staticmethod
    def _apply_generated_columns(
        df: DataFrame, snap: DeltaSnapshot
    ) -> DataFrame:
        """Writer feature generatedColumns (delta.generationExpression
        field metadata): a generated column ABSENT from the batch is
        computed from its expression; one PRESENT is validated against
        it — a mismatching batch fails the commit, exactly delta-spark's
        contract (silently storing divergent values would break every
        reader that relies on the generation invariant, e.g. partition
        pruning on a derived date column)."""
        gen = {
            f.name: ((f.metadata or {}).get("delta.generationExpression"))
            for f in snap.schema.fields
            if (f.metadata or {}).get("delta.generationExpression")
        }
        if not gen:
            return df
        for name, expr in sorted(gen.items()):
            target_t = snap.schema[name].dataType
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr).cast(target_t))
                continue
            bad = df.where(
                ~F.col(name).eqNullSafe(F.expr(expr).cast(target_t))
            )
            if not bad.isEmpty():
                sample = bad.limit(3).collect()
                raise ValueError(
                    f"generated column {name!r} = {expr} violated by "
                    f"{len(sample)}+ incoming row(s), e.g. {sample[0]}"
                )
        return df

    @staticmethod
    def _identity_fields(snap: DeltaSnapshot) -> dict:
        """{column name: field metadata} for IDENTITY columns
        (delta.identity.* field metadata — legacy minWriterVersion 6 /
        writer feature identityColumns)."""
        out = {}
        for f in snap.schema.fields:
            md = f.metadata or {}
            if (
                "delta.identity.start" in md
                or "delta.identity.step" in md
            ):
                out[f.name] = dict(md)
        return out

    def _apply_identity_columns(
        self, df: DataFrame, snap: DeltaSnapshot, what: str
    ) -> tuple[DataFrame, dict]:
        """Writer obligation for IDENTITY columns: rows arriving without
        a value get one generated on the start/step lattice strictly
        beyond the column's high-water mark; explicit values are refused
        on GENERATED ALWAYS columns (allowExplicitInsert=false) and
        accepted on GENERATED BY DEFAULT. Returns (df, {col: (base,
        step)}) for the columns whose high-water mark this commit must
        advance — the actual extreme is read from the STAGED files'
        stats (the written values are the truth; re-evaluating a
        nondeterministic expression in a second job could disagree).

        Generation is ``base + step * monotonically_increasing_id()`` —
        one deterministic-within-the-write-job codegen expression, no
        extra shuffle or window. Values are unique and beyond the mark
        but SPARSE (ids jump between partitions); the spec requires
        uniqueness/direction, not density — delta-spark's allocator
        leaves gaps too."""
        ident = self._identity_fields(snap)
        if not ident:
            return df, {}
        touched: dict = {}
        for name, md in sorted(ident.items()):
            step = int(md.get("delta.identity.step", 1))
            start = int(md.get("delta.identity.start", 1))
            hwm = md.get("delta.identity.highWaterMark")
            base = (int(hwm) + step) if hwm is not None else start
            allow = (
                str(md.get("delta.identity.allowExplicitInsert", False))
                .lower()
                == "true"
            )
            target_t = snap.schema[name].dataType
            if name in df.columns:
                if not allow and not df.where(
                    F.col(name).isNotNull()
                ).isEmpty():
                    raise ValueError(
                        f"{what}: column {name!r} is GENERATED ALWAYS "
                        "AS IDENTITY; explicit values are not allowed"
                    )
            else:
                df = df.withColumn(name, F.lit(None).cast(target_t))
            gen = (
                F.lit(base) + F.lit(step) * F.monotonically_increasing_id()
            ).cast(target_t)
            df = df.withColumn(name, F.coalesce(F.col(name), gen))
            touched[name] = (base, step)
        return df, touched

    def _apply_identity_merge(
        self,
        source: DataFrame,
        live: DataFrame | None,
        keys: Sequence[str],
        snap: DeltaSnapshot,
    ) -> tuple[DataFrame, dict]:
        """IDENTITY columns under MERGE: a matched source row REPLACES
        the target row, so when the source omits the column it inherits
        the target's value (whenMatchedUpdateAll must not disturb
        identity); unmatched (insert) rows generate on the lattice
        beyond the high-water mark. Explicit values follow the same
        allowExplicitInsert rule as append. Returns (source, touched)
        for :meth:`_identity_meta_action`."""
        ident = self._identity_fields(snap)
        if not ident:
            return source, {}
        touched: dict = {}
        for name, md in sorted(ident.items()):
            step = int(md.get("delta.identity.step", 1))
            start = int(md.get("delta.identity.start", 1))
            hwm = md.get("delta.identity.highWaterMark")
            base = (int(hwm) + step) if hwm is not None else start
            allow = (
                str(md.get("delta.identity.allowExplicitInsert", False))
                .lower()
                == "true"
            )
            target_t = snap.schema[name].dataType
            if name in source.columns:
                if not allow and not source.where(
                    F.col(name).isNotNull()
                ).isEmpty():
                    raise ValueError(
                        f"merge (MERGE): column {name!r} is GENERATED "
                        "ALWAYS AS IDENTITY; explicit values are not "
                        "allowed"
                    )
            elif live is not None and name not in keys:
                carry = live.select(
                    *keys, F.col(name).alias("__ident_carry")
                ).dropDuplicates(list(keys))
                source = (
                    source.join(carry, on=list(keys), how="left")
                    .withColumn(name, F.col("__ident_carry"))
                    .drop("__ident_carry")
                )
            else:
                source = source.withColumn(
                    name, F.lit(None).cast(target_t)
                )
            gen = (
                F.lit(base) + F.lit(step) * F.monotonically_increasing_id()
            ).cast(target_t)
            source = source.withColumn(name, F.coalesce(F.col(name), gen))
            touched[name] = (base, step)
        return source, touched

    @staticmethod
    def _staged_col_extreme(adds: list[dict], col: str, step: int):
        """The staged batch's extreme value of ``col`` in the identity
        step's direction, from the adds' stats (footer-derived, zero
        data I/O). None when no add carries a stat for the column."""
        vals = []
        for a in adds:
            st = a.get("stats")
            if not st:
                continue
            d = json.loads(st) if isinstance(st, str) else st
            v = (
                d.get("maxValues", {}) if step > 0 else d.get(
                    "minValues", {}
                )
            ).get(col)
            if v is not None:
                vals.append(int(v))
        if not vals:
            return None
        return max(vals) if step > 0 else min(vals)

    def _identity_meta_action(
        self,
        snap: DeltaSnapshot,
        touched: dict,
        adds: list[dict],
        actions: list[dict],
        what: str,
    ) -> list[dict]:
        """Advance delta.identity.highWaterMark in the table schema for
        this commit's staged values. Re-runs per commit ATTEMPT against
        the tip snapshot: a concurrent writer that advanced the mark
        past the base this batch generated from means the staged values
        may collide — surface the conflict (delta-spark's metadata
        conflict), never commit colliding ids. Folds into an existing
        metaData action (one per commit, protocol rule) or appends one."""
        ident = self._identity_fields(snap)
        schema_json = None
        for name, (base, step) in sorted(touched.items()):
            md = ident.get(name, {})
            cur_hwm = md.get("delta.identity.highWaterMark")
            cur_base = (
                (int(cur_hwm) + step) if cur_hwm is not None
                else int(md.get("delta.identity.start", 1))
            )
            if cur_base != base:
                raise ConcurrentModificationError(
                    f"{what} on {self.path}: identity column {name!r} "
                    f"high-water mark moved concurrently (generated "
                    f"from base {base}, table now at base {cur_base}); "
                    "re-run against the new table state"
                )
            ext = self._staged_col_extreme(adds, name, step)
            if ext is None:
                continue  # statless batch: mark stays (empty adds)
            if cur_hwm is not None and (
                ext <= int(cur_hwm) if step > 0 else ext >= int(cur_hwm)
            ):
                continue  # explicit values inside the existing range
            # fold into the commit's metaData action (or the current
            # schema) — at most ONE metaData action per commit
            existing_meta = next(
                (a["metaData"] for a in actions if "metaData" in a), None
            )
            if schema_json is None:
                src = (
                    existing_meta["schemaString"]
                    if existing_meta is not None
                    else snap.raw_meta["schemaString"]
                )
                schema_json = json.loads(src)
            for fld in schema_json["fields"]:
                if fld["name"] == name:
                    fld.setdefault("metadata", {})[
                        "delta.identity.highWaterMark"
                    ] = ext
        if schema_json is None:
            return actions
        existing_meta = next(
            (a["metaData"] for a in actions if "metaData" in a), None
        )
        if existing_meta is not None:
            existing_meta["schemaString"] = json.dumps(schema_json)
            return actions
        meta = dict(snap.raw_meta)
        meta["schemaString"] = json.dumps(schema_json)
        return actions + [{"metaData": meta}]

    @staticmethod
    def _cdf_enabled(configuration: dict) -> bool:
        return (
            (configuration or {})
            .get("delta.enableChangeDataFeed", "")
            .lower()
            == "true"
        )

    @staticmethod
    def _check_no_reserved_cdf_columns(df: DataFrame) -> None:
        """With CDF on, ``_change_type`` (and the read-side virtual
        ``_commit_version``/``_commit_timestamp``) are reserved names —
        a data column by that name would collide inside the cdc files."""
        reserved = {"_change_type", "_commit_version", "_commit_timestamp"}
        bad = reserved & set(df.columns)
        if bad:
            raise ValueError(
                f"columns {sorted(bad)} are reserved while "
                "delta.enableChangeDataFeed=true"
            )

    def set_change_data_feed(self, value: bool = True) -> int:
        """TBLPROPERTIES delta.enableChangeDataFeed: once true, every
        content-changing commit either derives its changes from plain
        add/remove actions (blind appends) or carries explicit ``cdc``
        actions pointing at ``_change_data/`` files (merge / delete /
        overwrite), and :meth:`DeltaTableReader.changes` replays them.
        Protocol: changeDataFeed is a WRITER feature — minWriterVersion
        4 on legacy protocols, or an entry in ``writerFeatures`` when
        the table already speaks the feature-list protocol (that list is
        authoritative, so it must be amended, not replaced)."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        meta = dict(snap.raw_meta)
        conf = dict(meta.get("configuration", {}) or {})
        conf["delta.enableChangeDataFeed"] = "true" if value else "false"
        meta["configuration"] = conf
        actions: list[dict] = []
        if value:
            proto = dict(snap.raw_protocol or {})
            if "writerFeatures" in proto or proto.get("minReaderVersion", 1) >= 3:
                feats = set(proto.get("writerFeatures", ())) | {"changeDataFeed"}
                proto["writerFeatures"] = sorted(feats)
                actions.append({"protocol": proto})
            elif proto.get("minWriterVersion", 2) < 4:
                actions.append(
                    {
                        "protocol": {
                            "minReaderVersion": proto.get(
                                "minReaderVersion", 1
                            ),
                            "minWriterVersion": 4,
                        }
                    }
                )
        actions.append({"metaData": meta})
        v = snap.version + 1
        return self._commit_read_dependent(
            v, actions, operation="SET TBLPROPERTIES",
            read_files=set(), add_conflict=False,
        )

    def set_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT: record a CHECK expression in the
        table configuration (enforced by every subsequent append) and
        RAISE the protocol so foreign writers honor it too — legacy
        tables get minWriterVersion 3; tables already on the
        feature-list protocol (3,7) keep their feature lists intact and
        gain ``checkConstraints`` (overwriting with a bare (1,3) would
        silently drop readerFeatures like columnMapping/deletionVectors,
        after which conforming readers return wrong rows). Fails if
        EXISTING rows violate it? No — like delta-spark, the caller must
        ensure that; this commit is metadata-only."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        meta = dict(snap.raw_meta)
        conf = dict(meta.get("configuration", {}) or {})
        conf[f"delta.constraints.{name}"] = expr
        meta["configuration"] = conf
        proto = snap.raw_protocol or {}
        cur_r = proto.get("minReaderVersion", 1)
        cur_w = proto.get("minWriterVersion", 1)
        actions: list[dict] = []
        if cur_w == 7 or "writerFeatures" in proto:
            # feature-list protocol: re-emit the FULL lists (they are
            # authoritative) with checkConstraints added
            rf, wf = self._feature_lists(
                snap, extra_writer={"checkConstraints"}
            )
            new_proto = {
                "minReaderVersion": max(cur_r, 3 if rf else cur_r),
                "minWriterVersion": 7,
                "writerFeatures": wf,
            }
            if new_proto["minReaderVersion"] >= 3:
                new_proto["readerFeatures"] = rf
            actions.append({"protocol": new_proto})
        elif cur_w < 3:
            # legacy protocol below the constraints version: raise it,
            # never lowering either component
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": cur_r,
                        "minWriterVersion": 3,
                    }
                }
            )
        # cur_w in 3..6 already implies checkConstraints: metadata-only
        actions.append({"metaData": meta})
        v = snap.version + 1
        return self._commit_read_dependent(
            v,
            actions,
            operation="ADD CONSTRAINT",
            read_files=set(), add_conflict=False,
        )

    def add_column(
        self, column: str, type_ddl: str, default: str | None = None
    ) -> int:
        """``ALTER TABLE … ADD COLUMN <c> <type>`` — metadata-only
        schema evolution (the standalone twin of append's mergeSchema):
        the new NULLABLE field joins the schemaString; rows in files
        committed before it read as NULL (Spark's parquet scan
        null-fills columns absent from the file bytes, and the
        columnMapping read path aliases by id the same way). Under
        columnMapping the field is assigned a fresh id + physicalName
        and ``delta.columnMapping.maxColumnId`` advances in the same
        commit — exactly what delta-spark stamps.

        ``ADD COLUMN … DEFAULT`` is DISALLOWED by the protocol
        (PROTOCOL.md § Default Columns: existing rows lack the column
        and must read NULL, which SQL's add-with-default semantics
        would contradict) — use :meth:`set_column_default` on the new
        column afterwards if future inserts should default."""
        if default is not None:
            raise DeltaProtocolError(
                "ADD COLUMN ... DEFAULT is disallowed by the Delta "
                "protocol (existing rows must read NULL; a default "
                "here would contradict SQL add-with-default "
                "semantics). ALTER COLUMN ... SET DEFAULT on the new "
                "column afterwards to default FUTURE inserts."
            )
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(
            snap, "ADD COLUMN", adds_content=False
        )
        meta = dict(snap.raw_meta)
        sch = json.loads(meta["schemaString"])
        parts = column.split(".")
        leaf = parts[-1]
        parent_fields = _struct_fields_at(sch, parts[:-1], "ADD COLUMN")
        if any(f["name"] == leaf for f in parent_fields):
            raise ValueError(
                f"ADD COLUMN: column {column!r} already exists"
            )
        new_field = json.loads(
            StructType.fromDDL(f"`{leaf}` {type_ddl}").json()
        )["fields"][0]
        new_field["type"] = _normalize_char_varchar(new_field["type"])
        new_field["nullable"] = True
        conf = dict(meta.get("configuration", {}) or {})
        cm = conf.get("delta.columnMapping.mode", "none")
        if cm not in ("", "none"):
            next_id = (
                max(
                    [int(conf.get("delta.columnMapping.maxColumnId", 0))]
                    + list(_all_mapping_ids(sch["fields"]))
                )
                + 1
            )
            # ids/physicalNames land on EVERY nested struct field and
            # list/map element positions get parquet.field.nested.ids —
            # the spec requires ids on all nested fields; top-level-only
            # assignment committed a schemaString foreign readers reject.
            # NESTED adds keep physicalName == name (this engine's
            # nested convention — file bytes stay name-resolvable for
            # the UniForm view); top-level adds get a fresh uuid name.
            next_id = _assign_mapping_ids(
                new_field,
                next_id,
                physical=(
                    f"col-{uuid.uuid4()}" if len(parts) == 1 else None
                ),
            )
            conf["delta.columnMapping.maxColumnId"] = str(next_id - 1)
            meta["configuration"] = conf
        parent_fields.append(new_field)
        meta["schemaString"] = json.dumps(sch)
        self._require_uniform_syncable(snap, meta, "ADD COLUMN")
        v = snap.version + 1
        return self._commit_read_dependent(
            v,
            [{"metaData": meta}],
            operation="ADD COLUMN",
            read_files=set(),
            add_conflict=False,
        )

    def _require_column_mapping(
        self, snap: DeltaSnapshot, what: str
    ) -> None:
        cm = (snap.configuration or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if cm in ("", "none"):
            raise DeltaProtocolError(
                f"{what} requires columnMapping: file bytes are keyed "
                "by physicalName/field id, so without mapping every "
                "already-committed file would misread after the "
                "schema change (delta-spark's rule)"
            )

    def _refuse_referenced_column(
        self, snap: DeltaSnapshot, column: str, what: str
    ) -> None:
        """Conservative guard shared by RENAME/DROP: a column referenced
        by a CHECK constraint or a generation expression must not be
        renamed/dropped out from under the expression (delta-spark
        blocks the same way)."""
        pat = re.compile(rf"\b{re.escape(column)}\b")
        for k, v in (snap.configuration or {}).items():
            if k.startswith("delta.constraints.") and pat.search(v):
                raise ValueError(
                    f"{what}: column {column!r} is referenced by "
                    f"constraint {k.removeprefix('delta.constraints.')!r}"
                    f" ({v!r}); drop the constraint first"
                )
        for f in snap.schema.fields:
            gen = (f.metadata or {}).get("delta.generationExpression")
            if gen and pat.search(gen):
                raise ValueError(
                    f"{what}: column {column!r} is referenced by "
                    f"generated column {f.name!r} ({gen!r})"
                )

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE … RENAME COLUMN`` — metadata-only under
        columnMapping (the LOGICAL name changes; physicalName + field
        id stay, so every committed file reads correctly unchanged).
        Partition columns rename too (metaData.partitionColumns holds
        logical names and is updated in the same commit)."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(
            snap, "RENAME COLUMN", adds_content=False
        )
        self._require_column_mapping(snap, "RENAME COLUMN")
        self._refuse_referenced_column(snap, old, "RENAME COLUMN")
        if "." in new:
            raise ValueError(
                "RENAME COLUMN: the new name is a bare field name "
                "(renames stay within the same struct)"
            )
        meta = dict(snap.raw_meta)
        sch = json.loads(meta["schemaString"])
        parts = old.split(".")
        leaf = parts[-1]
        parent_fields = _struct_fields_at(
            sch, parts[:-1], "RENAME COLUMN"
        )
        names = [f["name"] for f in parent_fields]
        if leaf not in names:
            raise ValueError(
                f"RENAME COLUMN: no column {old!r} (have {names})"
            )
        if new in names:
            raise ValueError(
                f"RENAME COLUMN: column {new!r} already exists"
            )
        for f in parent_fields:
            if f["name"] == leaf:
                # the rename is LOGICAL: physicalName + id pin the file
                # bytes. A nested field that never had them stamped
                # gets them NOW, under the OLD name (exactly what its
                # committed files carry), so the physical-pinned scan
                # keeps resolving it after the rename.
                md = dict(f.get("metadata") or {})
                md.setdefault(
                    "delta.columnMapping.physicalName", leaf
                )
                if "delta.columnMapping.id" not in md:
                    conf = dict(meta.get("configuration", {}) or {})
                    nid = (
                        max(
                            [
                                int(
                                    conf.get(
                                        "delta.columnMapping.maxColumnId",
                                        0,
                                    )
                                )
                            ]
                            + list(_all_mapping_ids(sch["fields"]))
                        )
                        + 1
                    )
                    md["delta.columnMapping.id"] = nid
                    conf["delta.columnMapping.maxColumnId"] = str(nid)
                    meta["configuration"] = conf
                f["metadata"] = md
                f["name"] = new
        meta["schemaString"] = json.dumps(sch)
        meta["partitionColumns"] = [
            new if c == old else c
            for c in (meta.get("partitionColumns") or [])
        ]
        self._require_uniform_syncable(snap, meta, "RENAME COLUMN")
        v = snap.version + 1
        return self._commit_read_dependent(
            v,
            [{"metaData": meta}],
            operation="RENAME COLUMN",
            read_files=set(),
            add_conflict=False,
        )

    def drop_column(self, column: str) -> int:
        """``ALTER TABLE … DROP COLUMN`` — metadata-only under
        columnMapping: the field leaves the schema; the physical column
        stays in the already-committed file bytes and every reader
        ignores it (resolution is by the schema's physicalName/id set).
        Partition columns cannot be dropped (partitionValues and the
        directory layout are keyed by them)."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(
            snap, "DROP COLUMN", adds_content=False
        )
        self._require_column_mapping(snap, "DROP COLUMN")
        self._refuse_referenced_column(snap, column, "DROP COLUMN")
        if column in (snap.partition_columns or ()):
            raise ValueError(
                f"DROP COLUMN: {column!r} is a partition column; "
                "rewrite the table to change partitioning"
            )
        meta = dict(snap.raw_meta)
        sch = json.loads(meta["schemaString"])
        parts = column.split(".")
        leaf = parts[-1]
        parent_fields = _struct_fields_at(
            sch, parts[:-1], "DROP COLUMN"
        )
        names = [f["name"] for f in parent_fields]
        if leaf not in names:
            raise ValueError(
                f"DROP COLUMN: no column {column!r} (have {names})"
            )
        if len(parent_fields) == 1:
            raise ValueError(
                "DROP COLUMN: cannot drop the last field of "
                + ("the table" if len(parts) == 1 else
                   f"struct {'.'.join(parts[:-1])!r}")
            )
        parent_fields[:] = [
            f for f in parent_fields if f["name"] != leaf
        ]
        meta["schemaString"] = json.dumps(sch)
        self._require_uniform_syncable(snap, meta, "DROP COLUMN")
        v = snap.version + 1
        return self._commit_read_dependent(
            v,
            [{"metaData": meta}],
            operation="DROP COLUMN",
            read_files=set(),
            add_conflict=False,
        )

    def set_column_default(self, column: str, expr: str) -> int:
        """``ALTER TABLE … ALTER COLUMN <c> SET DEFAULT <expr>``
        (PROTOCOL.md § Default Columns): stamp ``CURRENT_DEFAULT`` on
        the field's metadata and add the ``allowColumnDefaults`` writer
        feature in the same commit — the spec requires the feature to
        be present before any default exists. Only EXISTING columns may
        gain a default (the spec disallows ``ADD COLUMN … DEFAULT``:
        rows in already-committed files lack the column and must read
        NULL, which SQL's add-with-default semantics would contradict).
        Metadata-only commit; subsequent INSERT-shaped writes fill the
        default via :meth:`_apply_default_columns`."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(
            snap, "ALTER COLUMN SET DEFAULT", adds_content=False
        )
        # the expression must parse NOW — a malformed default stored in
        # metadata would fail every future write instead of this DDL.
        # Column.expr is lazy in pyspark 4, so analysis needs a session
        # round-trip; a standard-conforming default references no
        # columns, so SELECT (<expr>) analyzes it completely.
        sess = SparkSession.getActiveSession()
        if sess is not None:
            sess.sql(f"SELECT ({expr})")
        meta = dict(snap.raw_meta)
        sch = json.loads(meta["schemaString"])
        hit = [f for f in sch["fields"] if f["name"] == column]
        if not hit:
            raise ValueError(
                f"SET DEFAULT: no column {column!r} in table schema "
                f"(have {[f['name'] for f in sch['fields']]}); the "
                "Delta spec only allows defaults on existing columns"
            )
        md = dict(hit[0].get("metadata") or {})
        md["CURRENT_DEFAULT"] = expr
        hit[0]["metadata"] = md
        meta["schemaString"] = json.dumps(sch)
        rf, wf = self._feature_lists(
            snap, extra_writer={"allowColumnDefaults"}
        )
        proto = snap.raw_protocol or {}
        new_proto = {
            "minReaderVersion": max(proto.get("minReaderVersion", 1),
                                    3 if rf else 1),
            "minWriterVersion": 7,
            "writerFeatures": wf,
        }
        if new_proto["minReaderVersion"] >= 3:
            new_proto["readerFeatures"] = rf
        v = snap.version + 1
        return self._commit_read_dependent(
            v,
            [{"protocol": new_proto}, {"metaData": meta}],
            operation="ALTER COLUMN SET DEFAULT",
            read_files=set(),
            add_conflict=False,
        )

    def _require_uniform_syncable(
        self, snap: DeltaSnapshot, meta: dict, what: str
    ) -> None:
        """Pre-commit gate for schema-changing DDL on UniForm tables:
        the POST-DDL schema must still be expressible as an Iceberg
        view, else the metadata commit would land durably and the
        post-commit sync would strand the views diverged (the same
        failure mode the write gate closes for data commits)."""
        if not self._uniform_active(snap):
            return
        from aws_glue_data_lake_spark.icebergcompat import (
            IcebergProtocolError,
            check_uniform_syncable,
        )

        fields = StructType.fromJson(
            json.loads(meta["schemaString"])
        ).fields
        try:
            check_uniform_syncable(
                fields, tuple(meta.get("partitionColumns") or ())
            )
        except IcebergProtocolError as e:
            raise DeltaProtocolError(
                f"{what}: the schema change would make the UniForm "
                f"Iceberg view unsyncable — refusing BEFORE the "
                f"commit: {e}"
            ) from e

    def widen_column_type(self, column: str, type_ddl: str) -> int:
        """``ALTER TABLE … ALTER COLUMN <c> TYPE <t>`` — Delta TYPE
        WIDENING (PROTOCOL.md § Type Widening): a metadata-only commit
        that widens the field's declared type, appends the change to
        the field's ``delta.typeChanges`` metadata, and declares the
        ``typeWidening`` reader+writer feature in the same commit.
        Rows in files committed before the change read upcast — this
        engine's scan pins the (widened) table schema and Spark 4's
        parquet reader converts narrower physical types natively
        (verified per pair in :func:`_widening_ok`); no data file is
        rewritten. Narrowing or unrelated conversions refuse loudly."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(
            snap, "ALTER COLUMN TYPE", adds_content=False
        )
        meta = dict(snap.raw_meta)
        sch = json.loads(meta["schemaString"])
        parts = column.split(".")
        leaf = parts[-1]
        parent_fields = _struct_fields_at(
            sch, parts[:-1], "ALTER COLUMN TYPE"
        )
        hit = [f for f in parent_fields if f["name"] == leaf]
        if not hit:
            raise ValueError(
                f"ALTER COLUMN TYPE: no column {column!r} "
                f"(have {[f['name'] for f in parent_fields]})"
            )
        if column in (snap.partition_columns or ()):
            raise DeltaProtocolError(
                "ALTER COLUMN TYPE: cannot widen partition column "
                f"{column!r} — partitionValues serialization is typed "
                "by the column (delta-spark refuses the same way)"
            )
        new_t = _normalize_char_varchar(
            json.loads(
                StructType.fromDDL(f"`{leaf}` {type_ddl}").json()
            )["fields"][0]["type"]
        )
        old_t = hit[0]["type"]
        if not isinstance(new_t, str) or not isinstance(old_t, str):
            raise DeltaProtocolError(
                "ALTER COLUMN TYPE supports primitive columns only"
            )
        if not _widening_ok(old_t, new_t):
            raise DeltaProtocolError(
                f"ALTER COLUMN TYPE: {old_t!r} -> {new_t!r} is not a "
                "widening the protocol (and Spark's scan-time upcast) "
                "supports"
            )
        # gate on icebergCompat (not just active UniForm): the compat
        # invariants protect OTHER engines' ability to generate the
        # Iceberg view later, so a compat-enabled table must refuse
        # Iceberg-illegal promotions even before universalFormat names
        # iceberg (ADVICE r13; same keying as delete_where's DV routing)
        if self._iceberg_compat_enabled(snap) and not _iceberg_promotion_ok(
            old_t, new_t
        ):
            raise DeltaProtocolError(
                f"ALTER COLUMN TYPE: {old_t!r} -> {new_t!r} is not a "
                "legal Iceberg type promotion (spec § Schema Evolution)"
                " — on an icebergCompat table the (current or future) "
                "Iceberg view must stay readable, so only int→long, "
                "float→double and same-scale decimal precision growth "
                "are allowed"
            )
        md = dict(hit[0].get("metadata") or {})
        changes = list(md.get("delta.typeChanges") or [])
        changes.append({"fromType": old_t, "toType": new_t})
        md["delta.typeChanges"] = changes
        hit[0]["metadata"] = md
        hit[0]["type"] = new_t
        meta["schemaString"] = json.dumps(sch)
        self._require_uniform_syncable(snap, meta, "ALTER COLUMN TYPE")
        rf, wf = self._feature_lists(
            snap,
            extra_reader={"typeWidening"},
            extra_writer={"typeWidening"},
        )
        new_proto = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": rf,
            "writerFeatures": wf,
        }
        v = snap.version + 1
        return self._commit_read_dependent(
            v,
            [{"protocol": new_proto}, {"metaData": meta}],
            operation="ALTER COLUMN TYPE",
            read_files=set(),
            add_conflict=False,
        )

    def set_property(self, key: str, value: str) -> int:
        """Generic SET TBLPROPERTIES commit — e.g.
        ``delta.checkpointInterval`` to tune (or ``0`` to disable) the
        automatic checkpoint cadence. Keys match case-insensitively
        and commit under their canonical spelling (DeltaConfigs'
        behavior). Protocol-bearing enables ROUTE instead of landing
        naively — the property alone would be protocol-invalid:
        ``delta.enableRowTracking`` → :meth:`set_row_tracking` (needs
        the feature + materialized-column config + row-id backfill),
        ``delta.columnMapping.mode`` → :meth:`enable_column_mapping`
        (needs minted ids + reader 2/writer 5),
        ``delta.enableChangeDataFeed`` → :meth:`set_change_data_feed`
        (needs writer 4 / the changeDataFeed feature),
        ``delta.enableInCommitTimestamps`` /
        ``delta.enableDeletionVectors`` (need their v7 features)."""
        key = self._CANONICAL_PROPS.get(str(key).lower(), str(key))
        if (
            key == "delta.enableRowTracking"
            and str(value).lower() == "true"
        ):
            return self.set_row_tracking(True)
        if key == "delta.columnMapping.mode":
            return self.enable_column_mapping(str(value))
        if key == "delta.enableChangeDataFeed":
            return self.set_change_data_feed(
                str(value).lower() == "true"
            )
        feature_needed = {
            "delta.enableInCommitTimestamps": (None, "inCommitTimestamp"),
            "delta.enableDeletionVectors": (
                "deletionVectors", "deletionVectors",
            ),
        }.get(key)
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        meta = dict(snap.raw_meta)
        conf = dict(meta.get("configuration", {}) or {})
        conf[key] = str(value)
        meta["configuration"] = conf
        actions: list[dict] = []
        if feature_needed and str(value).lower() == "true":
            need_r, need_w = feature_needed
            rf, wf = self._feature_lists(
                snap,
                extra_reader={need_r} if need_r else (),
                extra_writer={need_w},
            )
            proto = (
                {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": rf,
                    "writerFeatures": wf,
                }
                if need_r or (snap.raw_protocol or {}).get(
                    "minReaderVersion", 1
                ) >= 3
                else {
                    "minReaderVersion": (snap.raw_protocol or {}).get(
                        "minReaderVersion", 1
                    ),
                    "minWriterVersion": 7,
                    "writerFeatures": wf,
                }
            )
            actions.append({"protocol": proto})
        actions.append({"metaData": meta})
        v = snap.version + 1
        return self._commit_read_dependent(
            v, actions, operation="SET TBLPROPERTIES",
            read_files=set(), add_conflict=False,
        )

    #: canonical spellings for the delta properties this writer treats
    #: specially (DeltaConfigs matches keys case-insensitively; a
    #: lowercased key must still hit the routing above, not land as a
    #: second, dead configuration entry)
    _CANONICAL_PROPS = {
        k.lower(): k
        for k in (
            "delta.enableRowTracking",
            "delta.columnMapping.mode",
            "delta.columnMapping.maxColumnId",
            "delta.enableChangeDataFeed",
            "delta.enableInCommitTimestamps",
            "delta.enableDeletionVectors",
            "delta.checkpointInterval",
            "delta.enableIcebergCompatV1",
            "delta.enableIcebergCompatV2",
            "delta.universalFormat.enabledFormats",
            "delta.appendOnly",
            "delta.logRetentionDuration",
            "delta.deletedFileRetentionDuration",
        )
    }

    def enable_column_mapping(self, mode: str = "name") -> int:
        """``ALTER TABLE … SET TBLPROPERTIES
        ('delta.columnMapping.mode'='name')`` — delta-spark's upgrade
        flow for an EXISTING table (the prerequisite for
        RENAME/DROP COLUMN). One metadata-only commit that mints
        ``delta.columnMapping.id`` + ``physicalName`` for every field
        (physicalName = the CURRENT name, so every already-committed
        file — keyed by name — keeps resolving; only columns added
        later get fresh ``col-<uuid>`` physical names), records
        ``maxColumnId``, and upgrades the protocol (legacy
        reader 2 / writer 5, or the feature lists when the table is
        already feature-versioned). Stats keys stay valid for the same
        reason (physical == logical for existing columns).

        ``mode='id'`` is refused on existing tables and ``'none'`` is
        a refusal to DISABLE — both delta-spark's rules (file bytes
        written under mapping cannot be re-keyed by a property flip).
        """
        mode = (mode or "").lower()
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(
            snap, "columnMapping upgrade", adds_content=False
        )
        cur = (snap.configuration or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if cur not in ("", "none"):
            if mode == cur:
                return snap.version  # idempotent re-declare
            raise DeltaProtocolError(
                f"columnMapping mode is {cur!r} and cannot change to "
                f"{mode!r}: committed file bytes are keyed under the "
                "current mapping (delta-spark refuses the same way)"
            )
        if mode == "none":
            return snap.version  # none -> none: nothing to do
        if mode != "name":
            raise DeltaProtocolError(
                f"columnMapping mode {mode!r} cannot be enabled on an "
                "existing table: 'id' mode requires files written with "
                "parquet field ids from the start — only 'name' "
                "upgrades in place (delta-spark's rule)"
            )
        meta = dict(snap.raw_meta)
        sch = json.loads(meta["schemaString"])
        have = list(_all_mapping_ids(sch["fields"]))
        next_id = (max(have) + 1) if have else 1
        for f in sch["fields"]:
            md = f.get("metadata") or {}
            if "delta.columnMapping.id" not in md:
                next_id = _assign_mapping_ids(f, next_id)
        meta["schemaString"] = json.dumps(sch)
        conf = dict(meta.get("configuration", {}) or {})
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(
            max(_all_mapping_ids(sch["fields"]), default=0)
        )
        meta["configuration"] = conf
        proto = dict(snap.raw_protocol or {})
        if proto.get("minWriterVersion", 1) == 7 or proto.get(
            "minReaderVersion", 1
        ) == 3:
            rf, wf = self._feature_lists(
                snap,
                extra_reader={"columnMapping"},
                extra_writer={"columnMapping"},
            )
            proto = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": rf,
                "writerFeatures": wf,
            }
        else:
            proto = {
                "minReaderVersion": max(
                    proto.get("minReaderVersion", 1), 2
                ),
                "minWriterVersion": max(
                    proto.get("minWriterVersion", 1), 5
                ),
            }
        return self._commit_read_dependent(
            snap.version + 1,
            [{"protocol": proto}, {"metaData": meta}],
            operation="SET TBLPROPERTIES",
            read_files=set(),
            add_conflict=False,
        )

    def set_row_tracking(self, value: bool = True) -> int:
        """Enable ROW TRACKING (delta-spark's ``ALTER TABLE ... SET
        TBLPROPERTIES ('delta.enableRowTracking'='true')`` flow) in one
        commit: the feature-list protocol gains rowTracking +
        domainMetadata, the materialized-column names are configured,
        every live file is BACKFILLED with a baseRowId range (metadata
        re-adds, dataChange=false — no file bytes move at any table
        size), and the delta.rowTracking domain records the high-water
        mark. Disabling just flips the property — the feature, column
        config and assigned ids stay (the spec's 'suspended' state, so
        re-enablement keeps prior ids)."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(snap, "set_row_tracking")
        meta = dict(snap.raw_meta)
        conf = dict(meta.get("configuration", {}) or {})
        if not value:
            conf["delta.enableRowTracking"] = "false"
            meta["configuration"] = conf
            v = snap.version + 1
            return self._commit_read_dependent(
                v, [{"metaData": meta}], operation="SET TBLPROPERTIES",
                read_files=set(), add_conflict=False,
            )
        conf["delta.enableRowTracking"] = "true"
        conf.setdefault(
            "delta.rowTracking.materializedRowIdColumnName",
            f"_row-id-col-{uuid.uuid4()}",
        )
        conf.setdefault(
            "delta.rowTracking.materializedRowCommitVersionColumnName",
            f"_row-commit-version-col-{uuid.uuid4()}",
        )
        meta["configuration"] = conf
        rf, wf = self._feature_lists(
            snap, extra_writer={"rowTracking", "domainMetadata"}
        )
        proto = (
            {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": rf,
                "writerFeatures": wf,
            }
            if rf
            else {
                "minReaderVersion": (snap.raw_protocol or {}).get(
                    "minReaderVersion", 1
                ),
                "minWriterVersion": 7,
                "writerFeatures": wf,
            }
        )
        v = snap.version + 1
        # BACKFILL: each live file claims a fresh id range so every
        # existing row has a stable id from the moment of enablement —
        # metadata-only re-adds keyed by numRecords from the add stats
        dom = (snap.domains or {}).get("delta.rowTracking") or {}
        try:
            hwm = int(
                json.loads(dom.get("configuration") or "{}").get(
                    "rowIdHighWaterMark", -1
                )
            )
        except (ValueError, TypeError):
            hwm = -1
        adds: list[dict] = []
        for p, pv, dv in snap.files:
            rt = (snap.row_tracking or {}).get(p)
            st = (snap.stats or {}).get(p)
            if rt is not None:
                continue  # already assigned (partial prior backfill)
            if not st or st.get("numRecords") is None:
                raise DeltaProtocolError(
                    "set_row_tracking: cannot backfill "
                    f"{p!r} — no numRecords stat to size its id range"
                )
            adds.append(
                {
                    "path": self._raw_key(snap, p),
                    "partitionValues": pv,
                    "size": os.path.getsize(p),
                    "modificationTime": int(os.path.getmtime(p) * 1000),
                    "dataChange": False,
                    "deletionVector": dv,
                    "stats": json.dumps(st),
                    "baseRowId": hwm + 1,
                    "defaultRowCommitVersion": v,
                }
            )
            hwm += int(st["numRecords"])
        actions: list[dict] = [{"protocol": proto}, {"metaData": meta}]
        actions += [{"add": a} for a in adds]
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": hwm}
                    ),
                    "removed": False,
                }
            }
        )
        # STRICT commit (no rebase): the backfill's
        # defaultRowCommitVersion and id ranges are baked against v —
        # re-landing them at a later version would stamp stale lineage
        try:
            self._commit(v, actions, "SET TBLPROPERTIES")
        except FileExistsError:
            raise ConcurrentModificationError(
                f"set_row_tracking on {self.path} lost the version "
                "race; re-run against the new table state"
            ) from None
        return v

    #: Features IMPLIED by each legacy protocol version (Delta protocol
    #: § "Table Features" compatibility table). On upgrade to the
    #: feature-list protocol the list becomes authoritative, so every
    #: capability the old (minReader, minWriter) tuple granted must be
    #: re-declared — delta-spark does exactly this on protocol upgrade;
    #: dropping e.g. checkConstraints would make conforming external
    #: writers stop enforcing the table's CHECK constraints.
    _LEGACY_WRITER_IMPLIES = {
        2: ("appendOnly", "invariants"),
        3: ("checkConstraints",),
        4: ("changeDataFeed", "generatedColumns"),
        5: ("columnMapping",),
        6: ("identityColumns",),
    }
    _LEGACY_READER_IMPLIES = {2: ("columnMapping",)}

    @classmethod
    def _feature_lists(
        cls, snap: DeltaSnapshot, extra_reader=(), extra_writer=()
    ) -> tuple[list[str], list[str]]:
        """Reader/writer feature lists for a feature-list protocol
        upgrade: with minReaderVersion 3 the LIST is authoritative, so
        every capability the table already relies on must be re-declared
        or conforming readers stop honoring it. Covers capabilities
        visible in the snapshot (schema/config/DVs), the legacy
        protocol versions' implied sets, and any pre-existing feature
        lists."""
        reader = set(extra_reader)
        conf = snap.configuration or {}
        if conf.get("delta.columnMapping.mode", "none") not in ("", "none"):
            reader.add("columnMapping")
        if any(
            f.dataType.typeName() == "timestamp_ntz"
            for f in snap.schema.fields
        ):
            reader.add("timestampNtz")
        if any(dv for _, _, dv in snap.files):
            reader.add("deletionVectors")
        proto = snap.raw_protocol or {}
        reader |= set(proto.get("readerFeatures", ()))
        for ver, feats in cls._LEGACY_READER_IMPLIES.items():
            if proto.get("minReaderVersion", 1) >= ver:
                reader.update(feats)
        writer = {"appendOnly", "invariants"} | reader | set(extra_writer)
        if conf.get("delta.enableChangeDataFeed") == "true":
            writer.add("changeDataFeed")
        if conf.get("delta.enableInCommitTimestamps") == "true":
            writer.add("inCommitTimestamp")
        if any(k.startswith("delta.constraints.") for k in conf):
            writer.add("checkConstraints")
        writer |= set(proto.get("writerFeatures", ()))
        legacy_writer = proto.get("minWriterVersion", 1)
        if legacy_writer != 7:  # 7 == already feature-list; list is truth
            for ver, feats in cls._LEGACY_WRITER_IMPLIES.items():
                if legacy_writer >= ver:
                    writer.update(feats)
        return sorted(reader), sorted(writer)

    def _readd_action(
        self, snap: DeltaSnapshot, p: str, pv: dict, dv: dict | None
    ) -> dict:
        """An ``add`` re-stating ``snap``'s file ``p`` under its raw key
        with deletion vector ``dv``. It carries the file's stats (they
        describe the PHYSICAL file; numRecords counts tombstoned rows
        too) and its baseRowId/defaultRowCommitVersion (row ids are
        stable across DV churn and restore; dropping them would renumber
        surviving rows for every tracking-aware reader)."""
        stats = (snap.stats or {}).get(p)
        add = {
            "path": self._raw_key(snap, p),
            "partitionValues": pv,
            "size": os.path.getsize(p),
            "modificationTime": int(os.path.getmtime(p) * 1000),
            "dataChange": True,
            "deletionVector": dv,
            "stats": json.dumps(stats) if stats else None,
        }
        rt = (snap.row_tracking or {}).get(os.path.abspath(p))
        if rt is not None:
            add["baseRowId"], add["defaultRowCommitVersion"] = rt
        return {"add": add}

    def _cdc_actions(
        self, snap: DeltaSnapshot, changes: DataFrame
    ) -> list[dict]:
        """Stage ``changes`` (rows carrying ``_change_type``) as change
        data files under ``snap``'s column mapping; return their ``cdc``
        actions."""
        to_phys, part_stage = self._physical_stage_ctx(snap)
        return [
            {"cdc": c}
            for c in self._stage_files(to_phys(changes), part_stage, cdc=True)
        ]

    @staticmethod
    def _physical_stage_ctx(
        snap: DeltaSnapshot, schema: StructType | None = None
    ):
        """(to_physical fn, physical partition columns) for staging data
        under a columnMapping table: file bytes and partitionValues use
        PHYSICAL names + parquet field IDs (what delta-spark's writer
        emits; logical-named files would read back as silent nulls).
        Identity for unmapped tables. ``_change_type`` in cdc files is a
        literal column, never mapped. ``schema`` overrides the
        snapshot's (the EVOLVED schema when this commit mergeSchemas —
        its new columns carry the just-assigned mapping ids)."""
        fields = (schema or snap.schema).fields
        cm = (snap.configuration or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if cm in ("", "none"):
            return (lambda df: df), snap.partition_columns
        phys_of = {
            f.name: DeltaTableReader._physical_name(f) for f in fields
        }
        fid_of = {
            f.name: (f.metadata or {}).get("delta.columnMapping.id")
            for f in fields
        }
        from pyspark.sql.types import ArrayType, MapType

        def id_typed(t):
            """The physical write shape of a nested type: struct fields
            under their physicalName carrying ``parquet.field.id``
            metadata (Spark's parquet writer emits nested struct field
            ids from StructField metadata — verified empirically; list/
            map element ids have no metadata slot and resolve by name
            mapping instead)."""
            if isinstance(t, StructType):
                out = []
                for f in t.fields:
                    md = f.metadata or {}
                    nid = md.get("delta.columnMapping.id")
                    out.append(
                        StructField(
                            DeltaTableReader._physical_name(f),
                            id_typed(f.dataType),
                            f.nullable,
                            {"parquet.field.id": int(nid)}
                            if nid is not None
                            else None,
                        )
                    )
                return StructType(out)
            if isinstance(t, ArrayType):
                return ArrayType(id_typed(t.elementType), t.containsNull)
            if isinstance(t, MapType):
                return MapType(
                    id_typed(t.keyType),
                    id_typed(t.valueType),
                    t.valueContainsNull,
                )
            return t

        by_name = {f.name: f for f in fields}

        def to_physical(df: DataFrame) -> DataFrame:
            cols = []
            for c in df.columns:
                pn = phys_of.get(c, c)
                fid = fid_of.get(c)
                fld = by_name.get(c)
                nested = fld is not None and fld.dataType.typeName() in (
                    "struct", "array", "map"
                )
                expr = F.col(c)
                if nested:
                    # positional cast renames nested fields to their
                    # physicalNames and stamps nested field ids
                    expr = expr.cast(id_typed(fld.dataType))
                if fid is not None:
                    cols.append(
                        expr.alias(
                            pn, metadata={"parquet.field.id": int(fid)}
                        )
                    )
                else:
                    cols.append(expr.alias(pn))
            return df.select(*cols)

        return to_physical, tuple(
            phys_of.get(c, c) for c in snap.partition_columns
        )

    def enable_in_commit_timestamps(self) -> int:
        """Writer feature inCommitTimestamp: commitInfo carries the
        authoritative MONOTONIC commit time from here on (file mtimes
        lie after copies/restores — exactly why the feature exists; the
        reader's history()/TIMESTAMP AS OF already prefer it). The
        enablement commit itself is stamped and records the protocol's
        enablement version/timestamp properties."""
        import time as _time

        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        v = snap.version + 1
        ict = max(int(_time.time() * 1000), self._prev_ict(v) + 1)
        meta = dict(snap.raw_meta)
        conf = dict(meta.get("configuration", {}) or {})
        conf["delta.enableInCommitTimestamps"] = "true"
        conf["delta.inCommitTimestampEnablementVersion"] = str(v)
        conf["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
        meta["configuration"] = conf
        rf, wf = self._feature_lists(
            snap, extra_writer={"inCommitTimestamp"}
        )
        proto = (
            {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": rf,
                "writerFeatures": wf,
            }
            if rf
            else {
                # writer-only feature lists need writer 7, reader stays
                "minReaderVersion": (snap.raw_protocol or {}).get(
                    "minReaderVersion", 1
                ),
                "minWriterVersion": 7,
                "writerFeatures": wf,
            }
        )
        actions = [
            {
                "commitInfo": {
                    "timestamp": ict,
                    "inCommitTimestamp": ict,
                    "operation": "SET TBLPROPERTIES",
                    "engineInfo": "aws-glue-data-lake-spark/deltacompat",
                }
            },
            {"protocol": proto},
            {"metaData": meta},
        ]
        # strict: the enablement version/timestamp are baked into the
        # properties, so a rebase would publish stale values
        try:
            self._commit(v, actions, "SET TBLPROPERTIES")
        except FileExistsError:
            raise ConcurrentModificationError(
                f"enable_in_commit_timestamps on {self.path} lost the "
                "version race; re-run against the new table state"
            ) from None
        # this commit carried its own commitInfo, so _ict_enabled never
        # saw the metaData action — refresh the instance cache directly
        self._ict_on = True
        return v

    def set_checkpoint_policy_v2(self) -> int:
        """Upgrade to the V2 Checkpoint layout (protocol § V2
        Checkpoints, reader feature v2Checkpoint +
        delta.checkpointPolicy=v2): subsequent :meth:`checkpoint` calls
        — including the automatic every-N-commits one — write the
        UUID-named main file + sidecar layout instead of the classic
        single parquet."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        meta = dict(snap.raw_meta)
        conf = dict(meta.get("configuration", {}) or {})
        conf["delta.checkpointPolicy"] = "v2"
        meta["configuration"] = conf
        rf, wf = self._feature_lists(
            snap,
            extra_reader={"v2Checkpoint"},
            extra_writer={"v2Checkpoint"},
        )
        v = snap.version + 1
        return self._commit_read_dependent(
            v,
            [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": rf,
                        "writerFeatures": wf,
                    }
                },
                {"metaData": meta},
            ],
            operation="SET TBLPROPERTIES",
            read_files=set(),
            add_conflict=False,
        )

    def set_append_only(self, value: bool = True) -> int:
        """TBLPROPERTIES delta.appendOnly: once true, delete_where and
        overwrite_partition refuse (appendOnly is minWriterVersion 2's
        first writer feature)."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        meta = dict(snap.raw_meta)
        conf = dict(meta.get("configuration", {}) or {})
        conf["delta.appendOnly"] = "true" if value else "false"
        meta["configuration"] = conf
        v = snap.version + 1
        return self._commit_read_dependent(
            v, [{"metaData": meta}], operation="SET TBLPROPERTIES",
            read_files=set(), add_conflict=False,
        )

    def _schema_evolution_actions(
        self, df: DataFrame, snap: DeltaSnapshot, merge_schema: bool
    ) -> tuple[list[dict], StructType]:
        """Validate a batch's schema against the table's and return
        (log actions, table schema after the commit). With
        ``merge_schema`` (delta-spark's mergeSchema option), NEW columns
        widen the table schema via a metaData action in the same commit
        — old files simply read NULL for them (the parquet-missing-
        column contract the reader already relies on). Without it,
        unknown columns fail loudly. Same-named columns must keep their
        type — silent coercion is how lakes rot."""
        existing = {f.name: f for f in snap.schema.fields}
        new_fields = [f for f in df.schema.fields if f.name not in existing]
        for f in df.schema.fields:
            old = existing.get(f.name)
            # nested StructFields carry columnMapping metadata the
            # batch lacks; equality must compare SHAPE, not metadata
            if old is not None and _strip_field_metadata(
                old.dataType
            ) != _strip_field_metadata(f.dataType):
                raise ValueError(
                    f"column {f.name!r} type mismatch: table has "
                    f"{old.dataType.simpleString()}, batch has "
                    f"{f.dataType.simpleString()}"
                )
        if not new_fields:
            return [], snap.schema
        if not merge_schema:
            raise ValueError(
                f"batch adds columns {[f.name for f in new_fields]}; "
                "pass merge_schema=True to evolve the table schema"
            )
        meta = dict(snap.raw_meta)
        sch = json.loads(meta["schemaString"])
        conf = dict(meta.get("configuration", {}) or {})
        cm = conf.get("delta.columnMapping.mode", "none")
        new_jsons = []
        for f in new_fields:
            fj = json.loads(
                StructType([StructField(f.name, f.dataType, True)]).json()
            )["fields"][0]
            fj["type"] = _normalize_char_varchar(fj["type"])
            fj["nullable"] = True
            new_jsons.append(fj)
        if cm not in ("", "none"):
            # mergeSchema under columnMapping: every evolved column
            # (and its nested fields / element positions) gets fresh
            # mapping ids in the SAME commit — the spec's requirement;
            # staging then writes the new columns under their physical
            # names + field ids (the evolved-schema stage ctx)
            next_id = (
                max(
                    [int(conf.get("delta.columnMapping.maxColumnId", 0))]
                    + list(_all_mapping_ids(sch["fields"]))
                )
                + 1
            )
            for fj in new_jsons:
                next_id = _assign_mapping_ids(
                    fj, next_id, physical=f"col-{uuid.uuid4()}"
                )
            conf["delta.columnMapping.maxColumnId"] = str(next_id - 1)
            meta["configuration"] = conf
        sch["fields"] = list(sch["fields"]) + new_jsons
        meta["schemaString"] = json.dumps(sch)
        self._require_uniform_syncable(
            snap, meta, "mergeSchema evolution"
        )
        # parse back so the returned schema CARRIES the assigned ids —
        # callers build the staging context from it
        merged = StructType.fromJson(json.loads(meta["schemaString"]))
        return [{"metaData": meta}], merged

    def append(
        self,
        df: DataFrame,
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Append a batch (see :meth:`_schema_evolution_actions` for the
        mergeSchema contract).

        Blind appends read nothing, so losing the commit race is never a
        logical conflict: data files are staged ONCE (partition layout is
        immutable in Delta, so they stay valid), then each attempt
        re-reads the tip snapshot, re-validates CHECK constraints and
        schema against it (the winner may have added a constraint or
        evolved the schema), and retries at the next version — the
        protocol's optimistic-transaction loop.

        ``txn=(app_id, version)`` makes the append IDEMPOTENT via the
        protocol's SetTransaction action: if the snapshot already records
        this app_id at >= version, the batch was committed by a previous
        attempt (a retried foreachBatch, a restarted streaming job) and
        is skipped — exactly-once sink semantics, delta-spark's
        ``txnAppId``/``txnVersion`` writer options. The check re-runs
        inside the retry loop, so even two RACING duplicates of the same
        (app_id, version) commit exactly once: the loser's re-read sees
        the winner's txn action and skips."""
        import time as _time

        adds: list[dict] | None = None
        ident_touched: dict | None = None
        # two independent budgets: version-race losses (cheap — re-plan
        # and re-PUT) and identity regenerations (costly — drop staged
        # files and re-stage). One shared counter livelocks a herd of
        # identity appenders: every foreign commit can charge BOTH a
        # FileExists loss and a mark-moved regen to this writer.
        losses = regens = 0
        staged_sig: str | None = None
        while losses < _MAX_COMMIT_RETRIES and regens <= _MAX_COMMIT_RETRIES:
            snap = DeltaTableReader(self.path).snapshot()
            if txn is not None and (snap.txns or {}).get(
                txn[0], -1
            ) >= int(txn[1]):
                # duplicate batch: already applied (possibly by a racing
                # twin that won while we staged — drop our staged files
                # rather than leaving orphans for vacuum)
                for a in adds or ():
                    try:
                        os.remove(
                            os.path.join(
                                self.path, urllib.parse.unquote(a["path"])
                            )
                        )
                    except OSError:
                        pass
                return snap.version
            self._check_writer_features(snap, "append (WRITE)")
            if ident_touched is None:
                df_in = df  # pre-identity batch, kept for regeneration
            df = self._apply_default_columns(df, snap)
            df = self._apply_generated_columns(df, snap)
            if ident_touched is None:
                # once per GENERATION: the generated values are fixed at
                # staging, so re-applying on a version-race retry would
                # mis-flag them as explicit
                df, ident_touched = self._apply_identity_columns(
                    df, snap, "append (WRITE)"
                )
            self._check_constraints(df, snap.configuration)
            actions, evolved_schema = self._schema_evolution_actions(
                df, snap, merge_schema
            )
            evo_sig = (
                actions[0]["metaData"]["schemaString"]
                if actions
                else None
            )
            if adds is not None and staged_sig != evo_sig:
                # a racing winner changed the schema under us: the
                # staged files embed mapping ids assigned against the
                # OLD tip — drop and restage under the new assignment
                for a in adds:
                    try:
                        os.remove(
                            os.path.join(
                                self.path,
                                urllib.parse.unquote(a["path"]),
                            )
                        )
                    except OSError:
                        pass
                adds = None
            if adds is None:
                staged_sig = evo_sig
                to_phys, part_stage = self._physical_stage_ctx(
                    snap, schema=evolved_schema
                )
                adds = self._stage_files(to_phys(df), part_stage)
            if ident_touched:
                # per ATTEMPT: the tip's high-water mark must still be
                # the one the batch generated from (collision guard). A
                # concurrent winner moving the mark means the STAGED
                # values may collide — delta-spark surfaces a metadata
                # conflict and the application retries; here the retry
                # is internal: drop the staged files, regenerate the
                # identity values from the winner's mark, re-stage.
                try:
                    actions = self._identity_meta_action(
                        snap, ident_touched, adds, actions,
                        "append (WRITE)",
                    )
                except ConcurrentModificationError:
                    for a in adds:
                        try:
                            os.remove(os.path.join(
                                self.path,
                                urllib.parse.unquote(a["path"]),
                            ))
                        except OSError:
                            pass
                    adds = None
                    ident_touched = None
                    df = df_in
                    regens += 1
                    continue
            if txn is not None:
                actions = actions + [
                    {
                        "txn": {
                            "appId": txn[0],
                            "version": int(txn[1]),
                            "lastUpdated": int(_time.time() * 1000),
                        }
                    }
                ]
            v = snap.version + 1
            try:
                self._commit(v, actions + [{"add": a} for a in adds])
                return v
            except FileExistsError:
                losses += 1
                continue
        raise ConcurrentModificationError(
            f"append to {self.path} lost the commit race "
            f"({losses} version losses, {regens} identity "
            "regenerations)"
        )

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: Sequence[str],
        delete_keys: DataFrame | None = None,
        merge_schema: bool = False,
        not_matched_by_source: str | None = None,
        not_matched_by_source_condition: str | None = None,
        not_matched_by_source_set: dict | None = None,
        not_matched_by_source_clauses: Sequence | None = None,
        matched_clauses: Sequence | None = None,
        not_matched_insert: bool = True,
        not_matched_condition: str | None = None,
        not_matched_set: dict | None = None,
        not_matched_clauses: Sequence | None = None,
        key_bounds: dict | None = None,
    ) -> int:
        """MERGE — the reference's central operation (reference
        delta/delta_tables.py:159-160 ``.merge(src, cond)
        .whenMatchedUpdateAll().whenNotMatchedInsertAll()``) emitted as
        a real Delta commit, copy-on-write at file granularity.

        ``matched_clauses`` switches the matched leg to delta-spark's
        CHAINED conditional form (operators/mergeclauses.py): an
        ordered list of ``("update", cond, set)`` / ``("delete",
        cond)`` clauses evaluated first-match-wins per matched row
        pair; a matched row matching no clause carries UNCHANGED
        (instead of the default replace-with-source). Conditions and
        SET expressions reference ``t.<col>`` / ``s.<col>``;
        ``set=None`` means UPDATE SET *. With clauses,
        ``not_matched_insert=False`` drops the WHEN NOT MATCHED INSERT
        leg and ``not_matched_condition`` (bare source columns) makes
        it conditional — delta-spark's full MERGE grammar square.
        ``delete_keys`` cannot combine with clauses (express it as a
        ``("delete", cond)`` clause).

        Semantics match lake.py's :meth:`LakeTable.upsert` (and hence
        the CDC operator's anti-join∪append rewrite): every target row
        whose key tuple appears in ``source`` OR ``delete_keys`` is
        removed, then all ``source`` rows are inserted. Rows with a key
        in ``delete_keys`` only are deleted outright
        (whenMatchedDelete, the CDC 'D' path). Callers must dedupe
        ``source`` to one row per key (operators/cdc.py does) — like
        SQL MERGE, duplicate source keys would insert duplicates.

        ``not_matched_by_source`` adds delta-spark's THIRD clause —
        ``WHEN NOT MATCHED BY SOURCE [AND <condition>] THEN DELETE``
        (``"delete"``) or ``THEN UPDATE SET <assignments>``
        (``"update"`` with ``not_matched_by_source_set`` mapping column
        -> SQL expression) — applied to target rows whose key tuple
        appears in NEITHER ``source`` NOR ``delete_keys``; the
        condition/assignments reference target columns bare. This is
        the standard SCD / full-sync idiom one notch up from the
        reference's whenMatchedDelete (delta/delta_tables.py:159-160).

        Scale: only files whose ``add.stats`` key-range overlaps the
        batch's key-range are read and rewritten; everything else is
        carried untouched in the log (no remove/add action). The
        pruning set is computed from driver-side log stats —
        O(#files) metadata, zero data I/O — exactly delta-spark's
        MERGE file-pruning move. A NOT MATCHED BY SOURCE clause widens
        the read to one full scan (any file may hold an unmatched row —
        delta-spark pays the same scan), but still rewrites ONLY files
        holding an eligible row; conflict detection then uses
        whole-table read semantics, also matching delta-spark.
        Rewriting a touched file folds its deletion vector away; the
        orphaned DV bin is vacuumable. ``key_bounds`` (``{key: (lo,
        hi)}`` of a NON-EMPTY batch over ``source`` ∪ ``delete_keys``,
        as ``operators.mergeclauses.key_bounds`` returns them) skips
        the count-and-bounds aggregate this method otherwise runs.
        """
        if not_matched_by_source not in (None, "delete", "update"):
            raise ValueError(
                "not_matched_by_source must be None, 'delete' or "
                f"'update', got {not_matched_by_source!r}"
            )
        if not_matched_by_source == "update" and not \
                not_matched_by_source_set:
            raise ValueError(
                "not_matched_by_source='update' requires "
                "not_matched_by_source_set ({column: SQL expression})"
            )
        if not_matched_by_source != "update" and \
                not_matched_by_source_set:
            raise ValueError(
                "not_matched_by_source_set only applies with "
                "not_matched_by_source='update'"
            )
        if matched_clauses is None:
            if not not_matched_insert:
                raise ValueError(
                    "not_matched_insert=False requires matched_clauses "
                    "(the default matched leg replaces rows with the "
                    "source batch, which presumes INSERT *)"
                )
            if not_matched_condition:
                raise ValueError(
                    "not_matched_condition requires matched_clauses"
                )
        elif delete_keys is not None:
            raise ValueError(
                "matched_clauses and delete_keys cannot combine — "
                "express the delete leg as a ('delete', cond) clause"
            )
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._require_mutable(snap, "merge (MERGE)")
        # columns the WRITER synthesizes on the batch (defaults /
        # generation expressions here; identity values later): a
        # column-list INSERT that does not assign them keeps the
        # synthesized value instead of NULL-padding (delta-spark)
        _pre_synth_cols = set(source.columns)
        source = self._apply_default_columns(source, snap)
        source = self._apply_generated_columns(source, snap)
        self._check_constraints(source, snap.configuration)
        if matched_clauses is not None and not merge_schema:
            # clause mode tolerates EXTRA source columns (they exist
            # only for s.<col> references in conditions/SETs — routing
            # columns like a CDC Op flag — and never land in the
            # table); schema validation runs on the overlap
            known = {f.name for f in snap.schema.fields}
            actions, table_schema = self._schema_evolution_actions(
                source.select(
                    *[c for c in source.columns if c in known]
                ),
                snap,
                False,
            )
        else:
            actions, table_schema = self._schema_evolution_actions(
                source, snap, merge_schema
            )
        phys_of = {
            f.name: DeltaTableReader._physical_name(f)
            for f in snap.schema.fields
        }
        # stage under the EVOLVED schema: mergeSchema-added columns
        # carry their freshly assigned mapping ids
        to_physical, part_stage = self._physical_stage_ctx(
            snap, schema=table_schema
        )
        keys = list(keys)
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"merge keys {missing} not in source columns")
        mc = None
        nmc = None
        if (
            matched_clauses is not None
            or not_matched_set
            or not_matched_clauses is not None
        ):
            from aws_glue_data_lake_spark.operators import (
                mergeclauses as _mcm,
            )

            nmc = _mcm.resolve_not_matched(
                not_matched_clauses,
                not_matched_insert,
                not_matched_condition,
                not_matched_set,
                [f.name for f in table_schema.fields],
                matched_clauses,
            )
            mc = _mcm.validate_matched_clauses(
                matched_clauses, [f.name for f in table_schema.fields]
            )
            bad_ident = sorted(
                {c for _k, _c, cs in mc if cs for c in cs}
                & set(self._identity_fields(snap))
            )
            if bad_ident:
                raise ValueError(
                    f"matched clause SET on IDENTITY column(s) "
                    f"{bad_ident} is not allowed"
                )
        kill = source.select(*keys)
        if delete_keys is not None:
            kill = kill.unionByName(delete_keys.select(*keys))
        has_nmbs = (
            not_matched_by_source is not None
            or not_matched_by_source_clauses is not None
        )
        # ONE tiny agg → batch emptiness AND the batch's key-range
        # (kill is empty iff source and delete_keys both are), unless
        # the caller already holds the bounds of its non-empty batch.
        # Files outside the range can't hold a matching row.
        if key_bounds is None:
            from aws_glue_data_lake_spark.operators import (
                mergeclauses as _mcb,
            )

            n_kill, key_bounds = _mcb.key_bounds(kill, keys)
            batch_empty = n_kill == 0
        else:
            batch_empty = False
        bounds = [key_bounds[k] for k in keys]
        # kill feeds only left_anti joins, where repeated keys cannot
        # change the output, so it is not de-duplicated
        if batch_empty and not has_nmbs:
            return snap.version  # no-op

        # stats/partitionValues in the log are keyed by PHYSICAL names;
        # bounds are positional, so pruning just looks keys up under
        # their physical spelling (== logical for unmapped tables)
        prune_keys = [phys_of.get(k, k) for k in keys]

        def overlaps(path: str, pv: dict) -> bool:
            return _key_range_overlaps(
                (snap.stats or {}).get(path), prune_keys, bounds, pv=pv
            )

        # an empty batch has NULL bounds (which prune nothing): no file
        # can be KEY-affected, only NMBS-eligible
        affected = (
            []
            if batch_empty
            else [p for p, pv, _dv in snap.files if overlaps(p, pv)]
        )
        from aws_glue_data_lake_spark.operators import (
            mergeclauses as _mcmn,
        )

        nmbs = _mcmn.normalize_nmbs(
            not_matched_by_source,
            not_matched_by_source_condition,
            not_matched_by_source_set,
            not_matched_by_source_clauses,
            [f.name for f in table_schema.fields],
        )
        _gen_cols = [
            f.name
            for f in snap.schema.fields
            if (f.metadata or {}).get("delta.generationExpression")
        ]
        _nmbs_assigned = {
            c
            for cl in (nmbs or ())
            if cl[0] == "update" and cl[2]
            for c in cl[2]
        }

        def regen(df, assigned=frozenset()):
            """Recompute generated columns after a row transform
            (delta-spark's UPDATE contract, same split as
            update_where): a generated column NOT explicitly assigned
            is dropped and re-derived from its expression over the
            POST-transform row; one explicitly assigned is validated.
            Identity when the table has no generated columns."""
            if not _gen_cols or df is None:
                return df
            return self._apply_generated_columns(
                df.drop(
                    *[g for g in _gen_cols if g not in assigned]
                ),
                snap,
            )

        if nmbs:
            nmbs_hit = _mcmn.nmbs_any_hit(nmbs)
            # one full scan finds the files holding a NOT-matched row
            # that satisfies the clause condition (delta-spark pays the
            # same scan); only THOSE files join the rewrite set — the
            # rest still carry by reference. DVs are subtracted FIRST
            # (ADVICE r13): a DV-deleted row must not mark its file
            # NMBS-eligible and force a needless full-file rewrite.
            eligible = {
                os.path.abspath(row["__fp"])
                for row in r._apply_dvs(
                    spark,
                    r.to_df(spark, _expose_pos=True),
                    snap,
                    keep_meta=True,
                )
                .join(kill, on=keys, how="left_anti")
                .where(nmbs_hit)
                .select(F.col("__dv_fp").alias("__fp"))
                .distinct()
                .collect()
            }
            have = {os.path.abspath(p) for p in affected}
            affected = affected + [
                p
                for p, _pv, _dv in snap.files
                if os.path.abspath(p) in eligible
                and os.path.abspath(p) not in have
            ]

        def apply_nmbs(df: DataFrame) -> DataFrame:
            """The third leg, applied to anti-joined (= unmatched)
            target rows: the FIRST clause whose condition holds wins —
            a winning delete drops the row, a winning update rewrites
            its assigned columns (and marks row-tracking's last-update
            version as this commit); no clause -> carried unchanged."""
            if not nmbs:
                return df
            df2 = df.withColumn(
                _mcmn.ACTION, _mcmn.action_col(nmbs)
            ).where(~_mcmn.deleted_flag(nmbs))
            cols = []
            for name in df.columns:
                if name == "__rt_sver":
                    cols.append(
                        F.when(
                            _mcmn.updated_flag(nmbs),
                            F.lit(None).cast("long"),
                        )
                        .otherwise(F.col(name))
                        .alias(name)
                    )
                else:
                    cols.append(_mcmn.nmbs_out_value(nmbs, name))
            return regen(df2.select(*cols), _nmbs_assigned)

        rtc = self._rt_preserve_ctx(snap, "merge (MERGE)")
        out = source
        live = None
        mat_cols: list[str] = []
        if affected:
            live = (
                r._stable_lineage_scan(
                    spark, snap, keep_paths=set(affected)
                )
                if rtc
                else r.to_df(spark, _keep_paths=set(affected))
            )
        source, ident_touched = self._apply_identity_merge(
            source, live, keys, snap
        )
        matched = None  # clause mode: the (t, s) join, reused by CDF
        ins = None  # clause mode: the WHEN NOT MATCHED insert set
        if mc is not None:
            from aws_glue_data_lake_spark.operators import (
                mergeclauses as _mcm,
            )

            tcols = [f.name for f in table_schema.fields]
            if live is not None:
                # mergeSchema: files predate newly added columns — pad
                # the target side so t.<new col> resolves (as NULL)
                for f in table_schema.fields:
                    if f.name not in live.columns:
                        live = live.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
                jc = F.lit(True)
                for k in keys:
                    jc = jc & (F.col(f"t.{k}") == F.col(f"s.{k}"))
                matched = (
                    live.alias("t")
                    .join(source.alias("s"), jc, "inner")
                    .withColumn(_mcm.ACTION, _mcm.action_col(mc))
                )
                out_exprs = [
                    _mcm.out_value(mc, f.name, f.dataType, source.columns)
                    for f in table_schema.fields
                ]
                if rtc:
                    # clause updates are TRUE updates: the row keeps its
                    # stable id; its last-update version restamps only
                    # when a clause actually fired
                    out_exprs += [
                        F.col("t.__rt_sid").alias("__rt_sid"),
                        F.when(
                            _mcm.updated_flag(mc),
                            F.lit(None).cast("long"),
                        )
                        .otherwise(F.col("t.__rt_sver"))
                        .alias("__rt_sver"),
                    ]
                matched_out = regen(
                    matched.where(~_mcm.deleted_flag(mc)).select(
                        *out_exprs
                    ),
                    {
                        c
                        for _k, _c, cs in mc
                        if cs
                        for c in cs
                    },
                )
                kept = apply_nmbs(
                    live.join(kill, on=keys, how="left_anti")
                )
                ins = source.join(
                    live.select(*keys).dropDuplicates(keys),
                    on=keys,
                    how="left_anti",
                )
            else:
                matched_out = None
                kept = None
                ins = source
            if not_matched_condition:
                ins = ins.where(F.expr(not_matched_condition))
            if not not_matched_insert:
                ins = ins.limit(0)
            synth = (
                set(ins.columns) - _pre_synth_cols
            )  # defaults / generated / identity values on the batch
            if nmc:
                # chained not-matched clauses: first-match-wins per
                # unmatched source row; a row matching no clause does
                # not insert — one codegen CASE per column, no union
                ins = (
                    ins.withColumn(
                        _mcm.ACTION, _mcm.not_matched_action_col(nmc)
                    )
                    .where(F.col(_mcm.ACTION) >= 0)
                    .select(
                        *_mcm.not_matched_projection(
                            nmc,
                            table_schema.fields,
                            source.columns,
                            fallback_cols=synth,
                        )
                    )
                )
            elif not_matched_set:
                # column-list INSERT: assigned columns evaluate over
                # the (bare) source row; the rest NULL-pad (except
                # writer-synthesized values)
                ins = ins.select(
                    *_mcm.insert_projection(
                        not_matched_set,
                        table_schema.fields,
                        fallback_cols=synth,
                    )
                )
            if nmc or not_matched_set:
                # a column-list assignment may feed a generated
                # column's input: re-derive non-assigned generated
                # columns over the POST-projection row
                ins = regen(
                    ins,
                    (
                        {
                            c
                            for _cond, cs in nmc
                            if cs
                            for c in cs
                        }
                        if nmc
                        else set(not_matched_set)
                    ),
                )
            if rtc:
                ins = ins.withColumn(
                    "__rt_sid", F.lit(None).cast("long")
                ).withColumn("__rt_sver", F.lit(None).cast("long"))
                parts = [
                    p
                    for p in (
                        self._rt_materialize(
                            kept, rtc, preserve_ver=True
                        )
                        if kept is not None
                        else None,
                        self._rt_materialize(
                            matched_out, rtc, preserve_ver=True
                        )
                        if matched_out is not None
                        else None,
                        self._rt_materialize(
                            ins, rtc, preserve_ver=True
                        ),
                    )
                    if p is not None
                ]
                mat_cols = [c for c in rtc if c]
            else:
                parts = [
                    p for p in (kept, matched_out, ins) if p is not None
                ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p, allowMissingColumns=True)
        elif affected:
            if rtc:
                kept = self._rt_materialize(
                    apply_nmbs(live.join(kill, on=keys, how="left_anti")),
                    rtc,
                    preserve_ver=True,
                )
                # a matched source row REPLACES the target row with the
                # same key, so it inherits that row's stable id (NULL
                # for genuinely new keys -> fresh baseRowId + position);
                # its last-update version is this commit (NULL fallback)
                # one id per key: a source row replacing N same-key
                # target rows inherits one of their ids (key-unique
                # tables, the MERGE contract, always have exactly one)
                id_map = live.select(*keys, "__rt_sid").dropDuplicates(
                    keys
                )
                src = self._rt_materialize(
                    source.join(id_map, on=keys, how="left").withColumn(
                        "__rt_sver", F.lit(None).cast("long")
                    ),
                    rtc,
                    preserve_ver=True,
                )
                out = kept.unionByName(src, allowMissingColumns=True)
                mat_cols = [c for c in rtc if c]
            else:
                kept = apply_nmbs(
                    live.join(kill, on=keys, how="left_anti")
                )
                out = kept.unionByName(source, allowMissingColumns=True)
        out = out.select(
            *[f.name for f in table_schema.fields], *mat_cols
        )
        if (mc is not None or has_nmbs) and any(
            k.startswith("delta.constraints.")
            for k in (snap.configuration or {})
        ):
            # clause SETs / column-list inserts / NMBS updates can
            # synthesize values the raw source never held, so the
            # early source-side CHECK is not enough — validate the
            # FINAL written rows (delta-spark checks post-projection
            # too). One extra pass over the rewrite set, only when
            # constraints exist.
            self._check_constraints(
                out.select(*[f.name for f in table_schema.fields]),
                snap.configuration,
            )

        cdc_actions: list[dict] = []
        cdc_df: DataFrame | None = None
        if self._cdf_enabled(snap.configuration):
            # CDF: the copy-on-write remove/add churn below misstates
            # carried-along rows as changes, so an explicit cdc file
            # records the TRUE row-level delta — matched keys as
            # update_preimage/postimage pairs, new keys as insert,
            # delete-only keys as delete. Readers then use the cdc file
            # and ignore this commit's add/remove actions entirely.
            # The cdc frame is only RECORDED here; it is staged
            # concurrently with the main rewrite below (both writes
            # land in their own unique _stage_* dirs and only the
            # commit consumes them).
            def align(df: DataFrame) -> DataFrame:
                return df.select(
                    *[
                        F.col(f.name)
                        if f.name in df.columns
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in table_schema.fields
                    ]
                )

            if mc is not None:
                from aws_glue_data_lake_spark.operators import (
                    mergeclauses as _mcm,
                )

                tcols = [f.name for f in table_schema.fields]
                changes = align(ins).withColumn(
                    "_change_type", F.lit("insert")
                )
                if matched is not None:
                    t_side = [
                        F.col(f"t.{c}").alias(c)
                        for c in tcols
                        if c in live.columns
                    ]
                    m_upd = matched.where(_mcm.updated_flag(mc))
                    pre = align(m_upd.select(*t_side)).withColumn(
                        "_change_type", F.lit("update_preimage")
                    )
                    post = align(
                        regen(
                            m_upd.select(
                                *[
                                    _mcm.out_value(
                                        mc, f.name, f.dataType,
                                        source.columns,
                                    )
                                    for f in table_schema.fields
                                ]
                            ),
                            {
                                c
                                for _k, _c, cs in mc
                                if cs
                                for c in cs
                            },
                        )
                    ).withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                    dels = align(
                        matched.where(_mcm.deleted_flag(mc)).select(
                            *t_side
                        )
                    ).withColumn("_change_type", F.lit("delete"))
                    changes = (
                        changes.unionByName(pre)
                        .unionByName(post)
                        .unionByName(dels)
                    )
                if nmbs and live is not None:
                    unm = live.join(
                        kill, on=keys, how="left_anti"
                    ).withColumn(
                        _mcmn.ACTION, _mcmn.action_col(nmbs)
                    )
                    dels_nmbs = align(
                        unm.where(_mcmn.deleted_flag(nmbs))
                    ).withColumn("_change_type", F.lit("delete"))
                    changes = changes.unionByName(dels_nmbs)
                    if any(cl[0] == "update" for cl in nmbs):
                        upd_rows = unm.where(_mcmn.updated_flag(nmbs))
                        post_rows = regen(
                            upd_rows.select(
                                *[
                                    _mcmn.nmbs_out_value(nmbs, c)
                                    for c in upd_rows.columns
                                    if c != _mcmn.ACTION
                                ]
                            ),
                            _nmbs_assigned,
                        )
                        changes = changes.unionByName(
                            align(upd_rows).withColumn(
                                "_change_type",
                                F.lit("update_preimage"),
                            )
                        ).unionByName(
                            align(post_rows).withColumn(
                                "_change_type",
                                F.lit("update_postimage"),
                            )
                        )
                cdc_df = changes
                # the clause-mode CDF is complete; skip the
                # replacement-semantics assembly below
                changes = None
            src_keys = source.select(*keys).dropDuplicates(keys)
            if mc is not None:
                pass
            elif live is not None:
                matched_keys = (
                    live.select(*keys)
                    .join(src_keys, on=keys, how="left_semi")
                    .dropDuplicates(keys)
                )
                pre = align(
                    live.join(matched_keys, on=keys, how="left_semi")
                ).withColumn("_change_type", F.lit("update_preimage"))
                post = align(
                    source.join(matched_keys, on=keys, how="left_semi")
                ).withColumn("_change_type", F.lit("update_postimage"))
                ins = align(
                    source.join(matched_keys, on=keys, how="left_anti")
                ).withColumn("_change_type", F.lit("insert"))
                changes = pre.unionByName(post).unionByName(ins)
                if delete_keys is not None:
                    del_only = (
                        delete_keys.select(*keys)
                        .dropDuplicates(keys)
                        .join(src_keys, on=keys, how="left_anti")
                    )
                    dels = align(
                        live.join(del_only, on=keys, how="left_semi")
                    ).withColumn("_change_type", F.lit("delete"))
                    changes = changes.unionByName(dels)
                if nmbs:
                    # the third leg's row-level truth: winning deletes
                    # emit delete rows, winning updates emit pre/post
                    # pairs under their clause's assignments
                    unm = live.join(
                        kill, on=keys, how="left_anti"
                    ).withColumn(
                        _mcmn.ACTION, _mcmn.action_col(nmbs)
                    )
                    dels_nmbs = align(
                        unm.where(_mcmn.deleted_flag(nmbs))
                    ).withColumn("_change_type", F.lit("delete"))
                    changes = changes.unionByName(dels_nmbs)
                    if any(cl[0] == "update" for cl in nmbs):
                        upd_rows = unm.where(_mcmn.updated_flag(nmbs))
                        post_rows = regen(
                            upd_rows.select(
                                *[
                                    _mcmn.nmbs_out_value(nmbs, c)
                                    for c in upd_rows.columns
                                    if c != _mcmn.ACTION
                                ]
                            ),
                            _nmbs_assigned,
                        )
                        changes = changes.unionByName(
                            align(upd_rows).withColumn(
                                "_change_type",
                                F.lit("update_preimage"),
                            )
                        ).unionByName(
                            align(post_rows).withColumn(
                                "_change_type",
                                F.lit("update_postimage"),
                            )
                        )
            else:
                changes = align(source).withColumn(
                    "_change_type", F.lit("insert")
                )
            if mc is None:
                cdc_df = changes
        removes = self._remove_actions(snap, affected, True)
        if cdc_df is not None:
            # overlap the two independent staging writes (guide §2.6):
            # the cdc file job and the main rewrite job each target
            # their own unique _stage_* dir; the commit only reads the
            # returned action lists after both finish, so commit-log
            # content and ordering are unchanged.
            staged_cdc, adds = run_jobs(
                lambda: self._stage_files(
                    to_physical(cdc_df), part_stage, cdc=True
                ),
                lambda: self._stage_files(to_physical(out), part_stage),
            )
            cdc_actions = [{"cdc": c} for c in staged_cdc]
        else:
            adds = self._stage_files(to_physical(out), part_stage)

        def winner_add_conflicts(add: dict) -> bool:
            # the same key-range pruning that picked this MERGE's
            # candidate files, applied to the winner's add.stats: a
            # concurrently added file that cannot hold a matching key
            # cannot change what this MERGE matched
            st = add.get("stats")
            if isinstance(st, str):
                try:
                    st = json.loads(st)
                except ValueError:
                    return True
            return _key_range_overlaps(
                st, prune_keys, bounds, pv=add.get("partitionValues")
            )

        v = snap.version + 1
        all_actions = (
            actions + removes + [{"add": a} for a in adds] + cdc_actions
        )
        if ident_touched:
            # conflict safety: a concurrent writer advancing the mark
            # commits a metaData action, which _winner_conflicts always
            # treats as a conflict — a rebase can never collide ids
            all_actions = self._identity_meta_action(
                snap, ident_touched, adds, all_actions, "merge (MERGE)"
            )
        # a NOT MATCHED BY SOURCE clause read the WHOLE table (any
        # concurrent add could hold a row this merge should have
        # treated as unmatched): whole-table read semantics, exactly
        # delta-spark's conflict rule for three-clause merges
        return self._commit_read_dependent(
            v,
            all_actions,
            operation="MERGE",
            read_files=(
                None
                if has_nmbs
                else {os.path.abspath(p) for p in affected}
            ),
            add_conflict=(
                True if has_nmbs else winner_add_conflicts
            ),
        )

    def _remove_actions(
        self, snap: DeltaSnapshot, paths, data_change: bool
    ) -> list[dict]:
        """One ``remove`` action per live file in ``paths`` (as
        ``snap.files`` names them), each under its raw log key."""
        now = int(time.time() * 1000)
        return [
            {
                "remove": {
                    "path": self._raw_key(snap, p),
                    "deletionTimestamp": now,
                    "dataChange": data_change,
                }
            }
            for p in paths
        ]

    def _rewrite_cow(
        self,
        spark: SparkSession,
        snap: DeltaSnapshot,
        cond,
        operation: str,
        assignments: dict | None = None,
    ) -> int:
        """UPDATE (``assignments`` given) or DELETE (none) as ONE
        copy-on-write commit — delta-spark's shape for both; DELETE
        takes it on UniForm tables, where the Iceberg view cannot
        express DVs. Files holding a matching row are found by one
        aggregation over the pushed-predicate scan (O(matched files)
        driver rows), rewritten with the matched rows updated or
        dropped, and swapped remove+add in one commit; untouched files
        carry by reference. Rewriting a file folds its deletion vector
        away. Row tracking ids are preserved; under CDF the row-level
        delta lands in a cdc file as update_preimage/update_postimage
        pairs or ``delete`` rows."""
        r = DeltaTableReader(self.path)
        # _expose_pos keeps __dv_fp attached; DVs subtract BEFORE the
        # probe so an already-DV-deleted match cannot force a needless
        # rewrite of its file (no-op when the table has no DVs)
        affected = dml.affected_files(
            r._apply_dvs(
                spark, r.to_df(spark, _expose_pos=True), snap,
                keep_meta=True,
            ),
            cond,
            "__dv_fp",
        )
        if not affected:
            return snap.version
        to_physical, part_stage = self._physical_stage_ctx(snap)
        rtc = self._rt_preserve_ctx(
            snap, f"{operation.lower()}_where ({operation})"
        )
        live = (
            r._stable_lineage_scan(spark, snap, keep_paths=set(affected))
            if rtc
            else r.to_df(spark, _keep_paths=set(affected))
        )
        kept, matched, updated = dml.split_rows(
            live, cond, snap.schema, assignments
        )
        if assignments is not None:
            # generatedColumns on UPDATE (delta-spark's contract): a
            # generated column NOT explicitly assigned is recomputed
            # from its expression (an assignment to a referenced source
            # column must not leave the derived value stale); one
            # explicitly assigned is validated. Dropping the
            # non-assigned ones and re-running the shared helper gives
            # exactly that split.
            gen_cols = [
                f.name
                for f in snap.schema.fields
                if (f.metadata or {}).get("delta.generationExpression")
            ]
            if gen_cols:
                updated = self._apply_generated_columns(
                    updated.drop(
                        *[g for g in gen_cols if g not in assignments]
                    ),
                    snap,
                )
            self._check_constraints(updated, snap.configuration)
        if rtc:
            # preserve stable ids: kept rows keep (id, version); updated
            # rows keep their id, version falls back to this commit's
            # defaultRowCommitVersion (last-updated-here)
            kept = self._rt_materialize(kept, rtc, preserve_ver=True)
        out = kept
        if assignments is not None:
            out = kept.unionByName(
                self._rt_materialize(updated, rtc, preserve_ver=False)
                if rtc
                else updated
            )
        # The rewrite needs no isEmpty pre-probe: staging an empty frame
        # writes only zero-row part files, which _stage_files already
        # skips. With CDF on, the cdc file and the rewrite are staged
        # concurrently (guide §2.6): independent writes into unique
        # _stage_* dirs, only the commit consumes the results.
        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap.configuration):
            rt_drop = ["__rt_sid", "__rt_sver"] if rtc else []
            if assignments is None:
                changes = matched.drop(*rt_drop).withColumn(
                    "_change_type", F.lit("delete")
                )
            else:
                changes = matched.drop(*rt_drop).withColumn(
                    "_change_type", F.lit("update_preimage")
                ).unionByName(
                    updated.drop(*rt_drop).withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
            staged_cdc, adds = run_jobs(
                lambda: self._stage_files(
                    to_physical(changes), part_stage, cdc=True
                ),
                lambda: self._stage_files(to_physical(out), part_stage),
            )
            cdc_actions = [{"cdc": c} for c in staged_cdc]
        else:
            adds = self._stage_files(to_physical(out), part_stage)
        return self._commit_read_dependent(
            snap.version + 1,
            self._remove_actions(snap, affected, True)
            + [{"add": a} for a in adds]
            + cdc_actions,
            operation=operation,
            read_files={os.path.abspath(p) for p in affected},
            # a concurrent data add may hold rows this arbitrary
            # predicate would have matched: conservative abort
            add_conflict=True,
        )

    def update_where(
        self,
        spark: SparkSession,
        condition,
        assignments: dict,
    ) -> int:
        """UPDATE ... SET ... WHERE ... as ONE copy-on-write commit —
        the delta-spark UPDATE shape (the sqlfront DML leg delegates
        here; :meth:`_rewrite_cow` does the work).

        ``assignments`` maps column name -> SQL expression string or
        Column, evaluated against the matched row. Assigning to an
        unknown column fails loudly (this is UPDATE, not evolution)."""
        snap = DeltaTableReader(self.path).snapshot()
        self._require_mutable(snap, "update_where (UPDATE)")
        cond = dml.as_column(condition)
        dml.check_assignments(assignments, snap.schema)
        bad_ident = sorted(
            set(assignments) & set(self._identity_fields(snap))
        )
        if bad_ident:
            # delta-spark's rule: identity values are writer-managed
            raise ValueError(
                f"UPDATE on IDENTITY column(s) {bad_ident} is not "
                "allowed"
            )
        return self._rewrite_cow(spark, snap, cond, "UPDATE", assignments)

    def overwrite_partition(self, df: DataFrame, **partition: str) -> int:
        """Replace one partition's files (remove actions for the old files,
        add actions for the new) — the classic Delta replaceWhere commit.
        Under CDF the replaced partition's prior rows are recorded as
        ``delete`` and the incoming batch as ``insert`` in a cdc file
        (a full-partition rewrite IS that row-level change)."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._require_mutable(snap, "overwrite_partition")
        df = self._apply_default_columns(df, snap)
        df = self._apply_generated_columns(df, snap)
        df, ident_touched = self._apply_identity_columns(
            df, snap, "overwrite_partition"
        )
        self._check_constraints(df, snap.configuration)
        to_phys, part_stage = self._physical_stage_ctx(snap)
        # partitionValues in the log are keyed by PHYSICAL names; the
        # caller passes logical kwargs
        phys_by_logical = {
            f.name: DeltaTableReader._physical_name(f)
            for f in snap.schema.fields
        }
        part_phys = {
            phys_by_logical.get(k, k): str(v) for k, v in partition.items()
        }
        replaced = [
            p
            for p, pv, _dv in snap.files
            if all(pv.get(k) == v for k, v in part_phys.items())
        ]
        removes = self._remove_actions(snap, replaced, True)
        # cdc file ∥ overwrite staging (guide §2.6): independent writes
        # into unique _stage_* dirs; the commit reads both results.
        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap.configuration):
            spark = df.sparkSession
            old = r.to_df(
                spark, partition_filter=dict(partition)
            ).withColumn("_change_type", F.lit("delete"))
            cols = [f.name for f in snap.schema.fields]
            new = df.select(*cols).withColumn(
                "_change_type", F.lit("insert")
            )
            staged_cdc, adds = run_jobs(
                lambda: self._stage_files(
                    to_phys(old.unionByName(new)), part_stage, cdc=True
                ),
                lambda: self._stage_files(to_phys(df), part_stage),
            )
            cdc_actions = [{"cdc": c} for c in staged_cdc]
        else:
            adds = self._stage_files(to_phys(df), part_stage)
        v = snap.version + 1
        all_actions = removes + [{"add": a} for a in adds] + cdc_actions
        if ident_touched:
            all_actions = self._identity_meta_action(
                snap, ident_touched, adds, all_actions,
                "overwrite_partition",
            )
        return self._commit_read_dependent(
            v,
            all_actions,
            operation="WRITE",
            # read set = the replaced partition; a winner writing OTHER
            # partitions is disjoint and this overwrite rebases over it
            read_files={os.path.abspath(p) for p in replaced},
            add_conflict=lambda a: all(
                (a.get("partitionValues") or {}).get(k) == pval
                for k, pval in part_phys.items()
            ),
        )

    @staticmethod
    def _live_tombstones(snap: DeltaSnapshot) -> list[dict]:
        """Remove tombstones still inside the table's
        delta.deletedFileRetentionDuration window (default 1 week) —
        what a checkpoint must re-emit so checkpoint-only replayers see
        recent removals explicitly instead of inferring them from
        absence (protocol § Checkpoints: remove tombstones survive
        until expired)."""
        raw = (snap.configuration or {}).get(
            "delta.deletedFileRetentionDuration", "interval 1 week"
        )
        m = re.match(r"(?i)\s*interval\s+(\d+)\s+(\w+?)s?\s*$", raw)
        unit_ms = {
            "millisecond": 1,
            "second": 1000,
            "minute": 60_000,
            "hour": 3_600_000,
            "day": 86_400_000,
            "week": 604_800_000,
        }
        ms = (
            int(m.group(1)) * unit_ms[m.group(2).lower()]
            if m and m.group(2).lower() in unit_ms
            else 604_800_000
        )
        cutoff = int(time.time() * 1000) - ms
        return sorted(
            (
                t
                for t in (snap.tombstones or {}).values()
                if int(t.get("deletionTimestamp") or 0) >= cutoff
            ),
            key=lambda t: t["path"],
        )

    def checkpoint(self, version: int | None = None) -> str:
        """Write a classic single-file parquet checkpoint of the snapshot
        state (protocol + metaData + one add row per live file + one
        remove row per unexpired tombstone) and point
        ``_last_checkpoint`` at it, so replay cost stays O(actions since
        last checkpoint) — the protocol's answer to unbounded logs."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        r = DeltaTableReader(self.path)
        snap = r.snapshot(version)
        meta_row = {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(snap.schema.jsonValue()),
            "partitionColumns": list(snap.partition_columns),
            "configuration": dict(snap.configuration),
            "createdTime": 0,
        }
        # The checkpoint must carry the table's TRUE protocol action: once
        # pre-checkpoint commit JSONs are cleaned up, this row is the only
        # surviving record of reader/writer requirements — writing a
        # hard-coded {1,2} for a deletionVectors table would hand foreign
        # readers DV add entries under a protocol that promises none.
        proto = dict(snap.raw_protocol or {}) or {
            "minReaderVersion": 1,
            "minWriterVersion": 2,
        }
        proto_row = {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": proto.get("minWriterVersion", 2),
            "readerFeatures": proto.get("readerFeatures"),
            "writerFeatures": proto.get("writerFeatures"),
        }
        rows = [
            {"protocol": proto_row, "metaData": None, "add": None},
            {"protocol": None, "metaData": meta_row, "add": None},
        ]
        for p, pv, dv in snap.files:
            st = (snap.stats or {}).get(p)
            rows.append(
                {
                    "protocol": None,
                    "metaData": None,
                    "add": {
                        # checkpoints must re-emit each add under its
                        # ORIGINAL raw path key (an absolute-URI add
                        # re-keyed as a relpath would strand any
                        # pre-checkpoint remove written against the URI)
                        "path": self._raw_key(snap, p),
                        "partitionValues": list(pv.items()),
                        "size": os.path.getsize(p),
                        "modificationTime": 0,
                        "dataChange": False,
                        "deletionVector": dv,
                        "stats": json.dumps(st) if st else None,
                        # rowTracking: ids are durable state — a
                        # checkpoint that dropped baseRowId would
                        # renumber every row for tracking-aware readers
                        "baseRowId": (
                            (snap.row_tracking or {}).get(
                                os.path.abspath(p), (None, None)
                            )[0]
                        ),
                        "defaultRowCommitVersion": (
                            (snap.row_tracking or {}).get(
                                os.path.abspath(p), (None, None)
                            )[1]
                        ),
                    },
                }
            )
        for t in self._live_tombstones(snap):
            # unexpired remove tombstones must survive checkpoint-only
            # replay (a reader racing a vacuum inside the retention
            # window must see the removal, not resurrect the file)
            rows.append({"remove": dict(t)})
        for d in sorted(
            (snap.domains or {}).values(), key=lambda x: x["domain"]
        ):
            # live domain metadata must survive checkpoint-only replay
            rows.append({"domainMetadata": dict(d)})
        for app_id, tv in sorted((snap.txns or {}).items()):
            # txn state must survive checkpoint-only replay, or an
            # exactly-once streaming writer would re-apply old batches
            # after log cleanup
            rows.append({"txn": {"appId": app_id, "version": tv}})
        # Explicit schema: partitionValues / options / configuration are
        # MAP<string,string> per the checkpoint spec — pyarrow inference
        # from dicts would produce per-row structs instead.
        smap = pa.map_(pa.string(), pa.string())
        schema = pa.schema(
            [
                pa.field(
                    "protocol",
                    pa.struct(
                        [
                            ("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32()),
                            ("readerFeatures", pa.list_(pa.string())),
                            ("writerFeatures", pa.list_(pa.string())),
                        ]
                    ),
                ),
                pa.field(
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            (
                                "format",
                                pa.struct(
                                    [("provider", pa.string()), ("options", smap)]
                                ),
                            ),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            ("configuration", smap),
                            ("createdTime", pa.int64()),
                        ]
                    ),
                ),
                pa.field(
                    "add",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("partitionValues", smap),
                            ("size", pa.int64()),
                            ("modificationTime", pa.int64()),
                            ("dataChange", pa.bool_()),
                            (
                                "deletionVector",
                                pa.struct(
                                    [
                                        ("storageType", pa.string()),
                                        ("pathOrInlineDv", pa.string()),
                                        ("offset", pa.int32()),
                                        ("sizeInBytes", pa.int32()),
                                        ("cardinality", pa.int64()),
                                    ]
                                ),
                            ),
                            ("stats", pa.string()),
                            ("baseRowId", pa.int64()),
                            ("defaultRowCommitVersion", pa.int64()),
                        ]
                    ),
                ),
                pa.field(
                    "remove",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("deletionTimestamp", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                ),
                pa.field(
                    "domainMetadata",
                    pa.struct(
                        [
                            ("domain", pa.string()),
                            ("configuration", pa.string()),
                            ("removed", pa.bool_()),
                        ]
                    ),
                ),
                pa.field(
                    "txn",
                    pa.struct(
                        [
                            ("appId", pa.string()),
                            ("version", pa.int64()),
                        ]
                    ),
                ),
            ]
        )
        for row in rows:
            meta = row.get("metaData")
            if meta is not None:
                meta["format"]["options"] = list(meta["format"]["options"].items())
                meta["configuration"] = list(meta["configuration"].items())
        if (snap.configuration or {}).get("delta.checkpointPolicy") == "v2":
            # V2 Checkpoint layout (reader feature v2Checkpoint): the
            # UUID-named main file carries protocol/metaData/txn plus a
            # checkpointMetadata action; the file-action set (the part
            # that grows with the table) goes to a SIDECAR parquet under
            # _delta_log/_sidecars/ — the layout that lets huge tables
            # split checkpoint writes across workers.
            # file actions — adds AND unexpired remove tombstones — go
            # to the sidecar (protocol § sidecars: the file-action set)
            file_rows = [
                {"add": r["add"], "remove": None}
                for r in rows
                if r.get("add")
            ] + [
                {"add": None, "remove": r["remove"]}
                for r in rows
                if r.get("remove")
            ]
            others = [
                r for r in rows if not r.get("add") and not r.get("remove")
            ]
            os.makedirs(os.path.join(self._log, "_sidecars"), exist_ok=True)
            sc_name = f"{uuid.uuid4().hex}.parquet"
            sc_path = os.path.join(self._log, "_sidecars", sc_name)
            sc_schema = pa.schema(
                [
                    schema.field("add"),
                    pa.field(
                        "remove",
                        pa.struct(
                            [
                                ("path", pa.string()),
                                ("deletionTimestamp", pa.int64()),
                                ("dataChange", pa.bool_()),
                                ("partitionValues", smap),
                                ("size", pa.int64()),
                            ]
                        ),
                    ),
                ]
            )
            pq.write_table(
                pa.Table.from_pylist(file_rows, schema=sc_schema),
                sc_path,
            )
            main_schema = pa.schema(
                list(schema)
                + [
                    pa.field(
                        "checkpointMetadata",
                        pa.struct([("version", pa.int64())]),
                    ),
                    pa.field(
                        "sidecar",
                        pa.struct(
                            [
                                ("path", pa.string()),
                                ("sizeInBytes", pa.int64()),
                                ("modificationTime", pa.int64()),
                            ]
                        ),
                    ),
                ]
            )
            main_rows = others + [
                {"checkpointMetadata": {"version": snap.version}},
                {
                    "sidecar": {
                        "path": sc_name,
                        "sizeInBytes": os.path.getsize(sc_path),
                        "modificationTime": 0,
                    }
                },
            ]
            cp = os.path.join(
                self._log,
                f"{snap.version:020d}.checkpoint.{uuid.uuid4()}.parquet",
            )
            pq.write_table(
                pa.Table.from_pylist(main_rows, schema=main_schema), cp
            )
            with open(
                os.path.join(self._log, "_last_checkpoint"), "w"
            ) as f:
                json.dump(
                    {
                        "version": snap.version,
                        "size": len(rows),
                        "sizeInBytes": os.path.getsize(cp),
                        "numOfAddFiles": sum(
                            1 for r in file_rows if r.get("add")
                        ),
                    },
                    f,
                )
            return cp
        cp = os.path.join(self._log, f"{snap.version:020d}.checkpoint.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), cp)
        with open(os.path.join(self._log, "_last_checkpoint"), "w") as f:
            json.dump({"version": snap.version, "size": len(rows)}, f)
        return cp

    def optimize(
        self,
        spark: SparkSession,
        target_files: int = 1,
        zorder_by: Sequence[str] = (),
    ) -> int:
        """OPTIMIZE (bin-packing compaction): rewrite the current
        snapshot's rows into ``target_files`` files and commit remove+add
        actions with ``dataChange: false`` — the protocol's marker that
        the commit reshuffles bytes without changing table content
        (streaming log readers skip it). Prior versions stay
        time-travelable until vacuum.

        ``zorder_by`` adds delta-spark's ``OPTIMIZE … ZORDER BY``
        multi-dimensional clustering: rows are range-partitioned and
        sorted by an interleaved-bit z-key over the named columns
        (:func:`_zorder_key`), so each rewritten file's min/max stats
        are tight on EVERY z-order column at once — point/range
        predicates on any of them prune files, the entire reason the
        command exists at 100 TB. Same commit shape; layout only.

        On a LIQUID-CLUSTERED table (``delta.clustering`` domain,
        § Clustered Table) OPTIMIZE clusters by the table's declared
        CLUSTER BY columns automatically — delta-spark's behavior —
        and an explicit ``zorder_by`` is refused the way delta-spark
        refuses it (the declared clustering owns the layout)."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        zorder_by = list(zorder_by)
        cluster_cols = _clustering_logical_cols(snap)
        if zorder_by and cluster_cols:
            raise ValueError(
                "OPTIMIZE ... ZORDER BY is not supported on a "
                f"clustered table (CLUSTER BY {cluster_cols}): "
                "OPTIMIZE clusters by the declared columns; change "
                "them with ALTER TABLE ... CLUSTER BY"
            )
        if not zorder_by:
            zorder_by = cluster_cols
        bad = [
            c
            for c in zorder_by
            if c not in {f.name for f in snap.schema.fields}
            or c in (snap.partition_columns or ())
        ]
        if bad:
            raise ValueError(
                f"ZORDER BY column(s) {bad} must exist and not be "
                "partition columns"
            )
        rtc = self._rt_preserve_ctx(snap, "optimize (OPTIMIZE)")
        df = (
            self._rt_materialize(
                r._stable_lineage_scan(spark, snap), rtc, preserve_ver=True
            )
            if rtc
            else r.to_df(spark)
        )
        if zorder_by and target_files <= 1:
            # clustering into ONE file defeats the point (a single
            # file's stats span everything): keep the live granularity
            target_files = max(len(snap.files), 1)
        if zorder_by:
            df = df.withColumn("__z", _zorder_key(df, zorder_by))
        if snap.partition_columns:
            # hash by the partition key so each partition value lands in
            # ONE task -> one compacted file per partition; a round-robin
            # repartition(N) here would fan every task across every
            # partition dir and EXPLODE the file count (N x partitions)
            df = df.repartition(
                max(target_files, 1),
                *[F.col(c) for c in snap.partition_columns],
            )
            if zorder_by:
                df = df.sortWithinPartitions(
                    *snap.partition_columns, "__z"
                )
        elif zorder_by:
            # range split on the z-key -> files own disjoint z-ranges
            df = df.repartitionByRange(
                max(target_files, 1), "__z"
            ).sortWithinPartitions("__z")
        else:
            df = (
                df.repartition(target_files)
                if target_files > 1
                else df.coalesce(1)
            )
        if zorder_by:
            df = df.drop("__z")
        to_phys, part_stage = self._physical_stage_ctx(snap)
        adds = self._stage_files(to_phys(df), part_stage)
        for a in adds:
            a["dataChange"] = False
        removes = self._remove_actions(
            snap, [p for p, _, _ in snap.files], False
        )
        v = snap.version + 1
        return self._commit_read_dependent(
            v,
            removes + [{"add": a} for a in adds],
            operation="OPTIMIZE",
            # compaction reads exactly the files it removes; a winner's
            # concurrent APPEND is disjoint (its files simply stay live
            # alongside the compacted ones), so OPTIMIZE rebases over it
            # — delta-spark's append/optimize coexistence
            read_files={os.path.abspath(p) for p, _, _ in snap.files},
            add_conflict=False,
        )

    def truncate(self, spark: SparkSession | None = None) -> int:
        """TRUNCATE TABLE: remove every live file in ONE metadata-only
        commit (``dataChange: true`` — this IS a content change, unlike
        OPTIMIZE) — schema, protocol and configuration survive, prior
        versions stay time-travelable until vacuum. delta-spark's
        TRUNCATE is the same remove-all commit. Under CDF the row-level
        feed gets explicit delete rows (one scan — the honest price of
        a replayable feed, same contract as RESTORE), which needs the
        ``spark`` session; a CDF table refuses a sparkless truncate
        rather than silently breaking its feed."""
        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(snap, "TRUNCATE")
        self._require_mutable(snap, "TRUNCATE")
        if not snap.files:
            return snap.version  # already empty: no-op
        actions: list[dict] = []
        if self._cdf_enabled(snap.configuration):
            if spark is None:
                raise ValueError(
                    "TRUNCATE on a CDF table records row-level "
                    "deletes: pass the SparkSession (truncate(spark))"
                )
            actions += self._cdc_actions(
                snap,
                r.to_df(spark).withColumn("_change_type", F.lit("delete")),
            )
        actions += self._remove_actions(
            snap, [p for p, _, _ in snap.files], True
        )
        # whole-table semantics: a concurrent writer's rows must not
        # survive a truncate that serialized after it
        return self._commit_read_dependent(
            snap.version + 1,
            actions,
            operation="TRUNCATE",
            read_files=None,
            add_conflict=True,
        )

    def reorg_purge(self, spark: SparkSession) -> int:
        """``REORG TABLE … APPLY (PURGE)`` — delta-spark's targeted
        rewrite that makes SOFT deletes physical: every file carrying a
        deletion vector is rewritten without its tombstoned rows, and
        every file physically retaining bytes of a DROPPED column
        (legal remnants under columnMapping — DROP COLUMN is
        metadata-only) is rewritten to the CURRENT physical schema.
        Untouched files (no DV, schema-clean) are carried by reference
        — unlike OPTIMIZE this never rewrites the whole table, which is
        the point at 100 TB: the I/O bill is exactly the purge set.
        Commit shape matches OPTIMIZE (remove+add, ``dataChange:
        false`` — logical content is unchanged, streaming readers skip
        it); vacuum later collects the purged bytes (that is what
        "purge" buys: deleted rows stop being recoverable once the old
        versions expire).

        Dropped-column detection reads parquet FOOTERS, distributed
        (``mapInPandas`` over the candidate paths) — metadata-only
        I/O, never data pages, O(#files) total across the cluster."""
        import pandas as pd

        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        self._check_writer_features(snap, "REORG PURGE")
        dv_files = {
            os.path.abspath(p) for p, _, dv in snap.files if dv
        }
        # physical names the CURRENT schema maps — anything else in a
        # footer is a dropped-column remnant. Row-tracking materialized
        # columns and (defensively) physical partition columns are
        # expected extras, never purge triggers.
        allowed = {
            DeltaTableReader._physical_name(f)
            for f in snap.schema.fields
        }
        rt_mat = DeltaTableReader._rt_materialized(snap)
        if rt_mat:
            allowed |= {c for c in rt_mat if c}
        allowed |= set(snap.partition_columns or ())
        candidates = [
            os.path.abspath(p)
            for p, _, _ in snap.files
            if os.path.abspath(p) not in dv_files
        ]
        stale_files: set[str] = set()
        if candidates:
            def _footer_scan(batches):
                import pyarrow.parquet as pq

                for pdf in batches:
                    out = []
                    for p in pdf["path"]:
                        names = set(
                            pq.ParquetFile(p).schema_arrow.names
                        )
                        out.append(bool(names - allowed))
                    yield pd.DataFrame(
                        {"path": pdf["path"], "stale": out}
                    )

            res = (
                local_df(
                    spark,
                    [(p,) for p in candidates],
                    "path string",
                    slices=min(len(candidates), 32),
                )
                .mapInPandas(
                    _footer_scan, "path string, stale boolean"
                )
                .where("stale")
                .collect()
            )
            stale_files = {row["path"] for row in res}
        targets = dv_files | stale_files
        if not targets:
            return snap.version  # nothing to purge: no-op, no commit
        rtc = self._rt_preserve_ctx(snap, "reorg (REORG PURGE)")
        df = (
            self._rt_materialize(
                r._stable_lineage_scan(
                    spark, snap, keep_paths=targets
                ),
                rtc,
                preserve_ver=True,
            )
            if rtc
            else r.to_df(spark, _keep_paths=targets)
        )
        # keep roughly the purged files' granularity; one task per
        # partition value when partitioned (same reasoning as OPTIMIZE)
        if snap.partition_columns:
            df = df.repartition(
                max(len(targets), 1),
                *[F.col(c) for c in snap.partition_columns],
            )
        else:
            df = df.repartition(max(len(targets), 1))
        to_phys, part_stage = self._physical_stage_ctx(snap)
        adds = self._stage_files(to_phys(df), part_stage)
        for a in adds:
            a["dataChange"] = False
        removes = self._remove_actions(
            snap,
            [p for p, _, _ in snap.files if os.path.abspath(p) in targets],
            False,
        )
        return self._commit_read_dependent(
            snap.version + 1,
            removes + [{"add": a} for a in adds],
            operation="REORG",
            read_files=targets,
            add_conflict=False,
        )

    def convert_parquet_dir(
        self, spark: SparkSession, partition_by: Sequence[str] = ()
    ) -> "DeltaTableReader":
        """CONVERT TO DELTA, in place and zero-copy: adopt the parquet
        files already under the table root by writing a ``_delta_log``
        whose add actions reference them relatively — no bytes move.
        Hive-partitioned layouts need an explicit ``partition_by``
        naming every ``col=value`` directory level (Delta's own CONVERT
        requires PARTITIONED BY the same way — inferring silently is how
        partition columns get dropped); a mismatch fails loudly. The
        schema (partition column types included) comes from Spark's own
        discovery; per-file ``add.stats`` from the footers."""
        import glob as g

        if os.path.isdir(self._log) and any(
            _COMMIT_RE.match(n) for n in os.listdir(self._log)
        ):
            raise FileExistsError(f"Delta table already exists: {self.path}")
        schema = (
            spark.read.option("basePath", self.path)
            .parquet(self.path)
            .schema
        )
        missing = [c for c in partition_by if c not in schema.names]
        if missing:
            raise ValueError(
                f"partition_by columns {missing} not found in the "
                f"discovered schema {schema.names}"
            )
        adds = []
        for p in sorted(
            g.glob(os.path.join(self.path, "**", "*.parquet"), recursive=True)
        ):
            if os.sep + "_delta_log" + os.sep in p:
                continue
            rel_dir = os.path.relpath(os.path.dirname(p), self.path)
            segs = rel_dir.split(os.sep) if rel_dir != "." else []
            got_cols = [s.partition("=")[0] for s in segs if "=" in s]
            if got_cols != list(partition_by):
                raise ValueError(
                    f"file {p} sits under partition dirs {got_cols}, "
                    f"but partition_by={list(partition_by)} — pass the "
                    "full directory layout explicitly"
                )
            pv = {}
            for seg in segs:
                k, _, v = seg.partition("=")
                pv[k] = (
                    None
                    if v == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(v)
                )
            adds.append(
                {
                    "path": urllib.parse.quote(
                        os.path.relpath(p, self.path).replace(os.sep, "/")
                    ),
                    "partitionValues": pv,
                    "size": os.path.getsize(p),
                    "modificationTime": int(os.path.getmtime(p) * 1000),
                    "dataChange": True,
                    "stats": _file_stats_json(p),
                }
            )
        if not adds:
            raise FileNotFoundError(f"no parquet files under {self.path}")
        self._commit(
            0,
            self._meta_actions(schema, partition_by)
            + [{"add": a} for a in adds],
            operation="CONVERT",
        )
        return DeltaTableReader(self.path)

    def delete_where(self, spark: SparkSession, condition) -> int:
        """DELETE via deletion vectors — the protocol's merge-on-read
        write path (``delta.enableDeletionVectors``): matching rows are
        tombstoned in per-file roaring bitmaps, no data file is
        rewritten. The commit re-adds each touched file with a
        ``deletionVector`` descriptor (union'd with any prior DV) and
        upgrades the protocol to reader 3 / writer 7 with the
        deletionVectors feature. Matched positions are packed per file
        on executors (:func:`dml.pack_positions`), but this process then
        holds them and the touched files' prior DV positions: O(touched
        files' tombstones). A DELETE that tombstones no new row commits
        nothing. ``optimize()`` later folds DVs away; ``vacuum()``
        collects orphaned DV bins."""
        from aws_glue_data_lake_spark.roaring64 import deserialize_positions

        r = DeltaTableReader(self.path)
        snap = r.snapshot()
        # DV deletes add no rows and PRESERVE row-tracking ids, so they
        # stay legal on delta.enableRowTracking tables
        self._require_mutable(
            snap, "delete_where (DELETE)", adds_content=False
        )
        cond = dml.as_column(condition)
        if self._iceberg_compat_enabled(snap):
            # icebergCompatV2 disallows writing deletion vectors (no
            # zero-copy representation in the Iceberg view) — whenever
            # the compat is ENABLED, not only when this writer also
            # maintains the uniform sync: route the DELETE through the
            # copy-on-write path, delta-spark's own behavior on
            # DV-disabled tables
            return self._rewrite_cow(spark, snap, cond, "DELETE")
        by_path = {os.path.abspath(p): (p, pv, dv) for p, pv, dv in snap.files}

        def prior(fp: str) -> list[int] | None:
            dv = by_path[os.path.abspath(fp)][2]
            return (
                deserialize_positions(_resolve_dv_blob(dv, self.path))
                if dv
                else None
            )

        # position scan WITHOUT DV subtraction: the fold drops matches
        # that are already tombstoned
        folded = dml.fold_positions(
            dml.pack_positions(
                r._scan_with_pos(spark).where(cond), "__dv_fp", "__dv_pos"
            ),
            prior,
        )
        if not folded:
            return snap.version  # no-op: no row newly deleted
        touched = [by_path[os.path.abspath(fp)][:2] for fp, _ in folded]
        cdc_actions: list[dict] = []
        if self._cdf_enabled(snap.configuration):
            # the plain scan applies the PRIOR deletion vectors, so this
            # captures exactly the newly-tombstoned rows (re-matching an
            # already-deleted row emits nothing — same idempotence as
            # the bitmap union)
            cdc_actions = self._cdc_actions(
                snap,
                r.to_df(spark)
                .where(cond)
                .withColumn("_change_type", F.lit("delete")),
            )
        dvs = _write_dvs(self.path, [pos for _, pos in folded])
        # With minReaderVersion 3 the feature LIST is authoritative: any
        # capability the table already relies on must be RE-DECLARED
        # alongside the deletionVectors upgrade — _feature_lists carries
        # the prior lists + legacy-implied sets through (rebuilding from
        # scratch here once silently DROPPED a table's rowTracking/
        # domainMetadata features, a protocol downgrade)
        rf, wf = self._feature_lists(
            snap, extra_reader={"deletionVectors"}
        )
        actions: list[dict] = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": rf,
                    "writerFeatures": wf,
                }
            }
        ]
        actions += self._remove_actions(snap, [p for p, _ in touched], True)
        actions += [
            self._readd_action(snap, p, pv, dv)
            for (p, pv), dv in zip(touched, dvs)
        ]
        v = snap.version + 1
        return self._commit_read_dependent(
            v,
            actions + cdc_actions,
            operation="DELETE",
            # DELETE's predicate scanned every live file, and a winner's
            # new rows could match it too — so any dataChange add
            # conflicts (the default); only data-disjoint winners rebase
            read_files={os.path.abspath(p) for p, _, _ in snap.files},
        )

    def restore(
        self, version: int, spark: SparkSession | None = None
    ) -> int:
        """RESTORE TABLE TO VERSION AS OF: a new commit whose remove+add
        actions make the table's live set equal the target version's —
        history is preserved (the restore itself is one more commit, the
        protocol's rule), nothing is rewritten, and files the target
        still references must not have been vacuumed.

        Under CDF the restore's add+remove churn is file-level, so —
        like delta-spark — the TRUE row-level delta lands in cdc files:
        rows live now but not at the target emit ``delete``, rows live
        at the target but not now emit ``insert`` (an exceptAll diff of
        the two snapshots; restore is a rare administrative op, the two
        scans are the honest price of a replayable feed). Pass the
        SparkSession for this — a CDF table refuses a sparkless
        restore rather than silently breaking its feed."""
        r = DeltaTableReader(self.path)
        cur = r.snapshot()
        tgt = r.snapshot(version)
        for p, _, dv in tgt.files:
            if not os.path.isabs(p) or not os.path.exists(p):
                raise FileNotFoundError(
                    f"restore target v{version} references {p}, which no "
                    "longer exists (vacuumed?)"
                )
            if dv and dv.get("storageType") == "u":
                bin_path = _dv_file_path(dv, self.path)
                if not os.path.exists(bin_path):
                    raise FileNotFoundError(
                        f"restore target v{version} references deletion "
                        f"vector {bin_path}, which no longer exists "
                        "(vacuumed?)"
                    )
        # Key the diff by each snapshot's RAW add.path string (the live
        # state's dict key) — same file, same add action, same raw key in
        # both snapshots, so the diff stays aligned and removes emitted
        # below always pop the real live entry (absolute-URI adds included).
        cur_by_rel = {
            self._raw_key(cur, p): (p, pv, dv) for p, pv, dv in cur.files
        }
        tgt_by_rel = {
            self._raw_key(tgt, p): (p, pv, dv) for p, pv, dv in tgt.files
        }
        actions: list[dict] = []
        if json.dumps(tgt.raw_meta.get("schemaString")) != json.dumps(
            cur.raw_meta.get("schemaString")
        ):
            actions.append({"metaData": tgt.raw_meta})
        # entries to (re-)add: every target entry not live now as it was
        # then; a re-stated live entry is removed first (all removes
        # precede the adds, so replay leaves the add live)
        readd = [
            rel
            for rel, (_, _, dv) in sorted(tgt_by_rel.items())
            if rel not in cur_by_rel or cur_by_rel[rel][2] != dv
        ]
        actions += self._remove_actions(
            cur,
            [
                cur_by_rel[rel][0]
                for rel in sorted(set(cur_by_rel) - set(tgt_by_rel))
                + [rel for rel in readd if rel in cur_by_rel]
            ],
            True,
        )
        actions += [self._readd_action(tgt, *tgt_by_rel[rel]) for rel in readd]
        if self._cdf_enabled(cur.configuration):
            if spark is None:
                raise ValueError(
                    "restore on a delta.enableChangeDataFeed table needs "
                    "the SparkSession to stage its cdc rows: "
                    "restore(version, spark)"
                )
            tgt_fields = tgt.schema.fields

            def align(df: DataFrame) -> DataFrame:
                return df.select(
                    *[
                        F.col(f.name)
                        if f.name in df.columns
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in tgt_fields
                    ]
                )

            cur_df = align(r.to_df(spark))
            tgt_df = align(r.to_df(spark, version=version))
            changes = (
                cur_df.exceptAll(tgt_df)
                .withColumn("_change_type", F.lit("delete"))
                .unionByName(
                    tgt_df.exceptAll(cur_df).withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
            )
            if not changes.isEmpty():
                actions += self._cdc_actions(tgt, changes)
        v = cur.version + 1
        # RESTORE is whole-table semantics: the defaults (read set =
        # everything, any dataChange add conflicts) keep it strict
        return self._commit_read_dependent(v, actions, operation="RESTORE")

    def cleanup_log(
        self, retention_ms: int = 30 * 24 * 3600 * 1000
    ) -> list[str]:
        """Metadata retention (delta.logRetentionDuration, default 30
        days): drop commit JSONs and superseded checkpoints older than
        the retention window that are covered by a NEWER checkpoint —
        the tip stays replayable from that checkpoint, while time
        travel / CDF into the dropped range stops with the reader's
        loud "log cleaned up" error, matching delta-spark. The newest
        checkpoint and every commit at or after it are always kept.
        Returns the removed paths."""
        import time as _time

        r = DeltaTableReader(self.path)
        cps = r._checkpoint_versions()
        if not cps:
            return []  # nothing to replay from; never orphan the log
        cp = max(cps)
        cutoff = _time.time() * 1000 - retention_ms
        removed: list[str] = []
        for v in r._commit_versions():
            if v >= cp:
                continue  # at/after the checkpoint: needed for replay
            p = os.path.join(r._log, f"{v:020d}.json")
            if os.path.getmtime(p) * 1000 <= cutoff:
                os.remove(p)
                removed.append(p)
        for v in cps:
            if v == cp:
                continue
            for p in r._checkpoint_files(v):
                if os.path.getmtime(p) * 1000 <= cutoff:
                    os.remove(p)
                    removed.append(p)
        return removed

    def vacuum(
        self, keep_versions: int = 1, dry_run: bool = False
    ) -> list[str]:
        """Physically delete data files under the table root that the
        trailing ``keep_versions`` snapshots no longer reference —
        Delta's VACUUM. Older versions whose files are collected stop
        being time-travelable (exactly the delta-spark trade; it gates
        on a retention window, here the caller decides how many trailing
        versions stay replayable). The log is retained — reads still
        replay it, remove-actions already exclude the vacuumed files.
        Absolute (foreign) references from zero-copy exports are never
        touched. ``dry_run`` (delta-spark's ``VACUUM ... DRY RUN``)
        returns the would-be-deleted paths without deleting. Deletion-vector bins (``deletion_vector_*.bin``) whose
        uuid no retained snapshot's descriptor references are collected
        too — they become orphans when OPTIMIZE folds the DVs into
        rewritten files or a later DELETE supersedes them."""
        import glob as g

        r = DeltaTableReader(self.path)
        keep_versions = max(1, int(keep_versions))
        tip = r.snapshot().version
        retained = [
            v
            for v in (r._commit_versions() or [tip])
            if v <= tip
        ][-keep_versions:] or [tip]
        if retained[-1] != tip:
            retained.append(tip)
        live: set[str] = set()
        live_dvs: set[str] = set()
        for v in retained:
            snap = r.snapshot(v)
            live |= {os.path.abspath(p) for p, _, _ in snap.files}
            live_dvs |= {
                os.path.abspath(_dv_file_path(dv, self.path))
                for _, _, dv in snap.files
                if dv and dv.get("storageType") != "i"
            }
        # CDF files live outside every snapshot's file set: retained for
        # the log's lifetime (delta-spark ages them out on a retention
        # window instead). Only cdc files NO retained commit references
        # — orphans of failed merge/delete commits — are collected.
        cdc_live = set()
        for cv in r._commit_versions():
            with open(os.path.join(r._log, f"{cv:020d}.json")) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    a = json.loads(line)
                    if "cdc" in a:
                        cdc_live.add(
                            os.path.abspath(r._abs_path(a["cdc"]["path"]))
                        )
        removed = []
        for p in g.glob(
            os.path.join(self.path, "**", "*.parquet"), recursive=True
        ):
            ap = os.path.abspath(p)
            if os.sep + "_delta_log" + os.sep in ap:
                continue  # checkpoints are log structure, not data
            if os.sep + "_change_data" + os.sep in ap:
                if ap not in cdc_live:
                    if not dry_run:
                        os.remove(ap)
                    removed.append(ap)
                continue
            if ap not in live:
                if not dry_run:
                    os.remove(ap)
                removed.append(ap)
        for p in g.glob(
            os.path.join(self.path, "**", "deletion_vector_*.bin"),
            recursive=True,
        ):
            if os.path.abspath(p) not in live_dvs:
                if not dry_run:
                    os.remove(p)
                removed.append(os.path.abspath(p))
        return removed


def export_lake_snapshot(lake_table, dest_path: str, version: int | None = None):
    """ZERO-COPY export of a homegrown LakeTable snapshot as a real Delta
    table: writes a ``_delta_log`` at ``dest_path`` whose add actions
    reference the lake table's data files by absolute URI (the protocol
    explicitly allows absolute paths — the same mechanism SHALLOW CLONE
    uses). No data bytes move; any Delta reader pointed at ``dest_path``
    sees the snapshot. The lake layout matches Delta's (partition columns
    live in the manifest, not the file bytes), so partitioned tables
    export 1:1.

    Live deletion vectors CONVERT rather than block: the lake's parquet
    (file_name, row_index) sidecars re-encode as protocol roaring-bitmap
    blobs in one ``deletion_vector_*.bin`` at the destination, and the
    exported log then advertises reader 3 / writer 7 with the
    deletionVectors feature. DV sidecars are tombstone-sized (the
    DELETE's blast radius, never the table), so the conversion is
    driver-side metadata work like the log itself — data bytes still
    never move."""
    snap = lake_table.snapshot(version)
    schema = StructType.fromDDL(snap.schema)
    part_cols = list(snap.partition_by)
    w = DeltaTableWriter(dest_path)
    if os.path.isdir(w._log) and any(
        _COMMIT_RE.match(n) for n in os.listdir(w._log)
    ):
        raise FileExistsError(f"Delta table already exists: {dest_path}")
    os.makedirs(dest_path, exist_ok=True)

    # -- convert lake DV sidecars (parquet tombstones) to roaring blobs --
    tombstones = lake_table._tombstones(snap.files)
    dv_files = [
        (f["path"], tombstones[name])
        for f in snap.files
        if (name := os.path.basename(f["path"])) in tombstones
    ]
    dv_by_file = {}
    if dv_files:
        dv_by_file = dict(
            zip(
                [p for p, _ in dv_files],
                _write_dvs(dest_path, [pos for _, pos in dv_files]),
            )
        )

    adds = []
    for f in snap.files:
        abs_path = lake_table._abs(f["path"])
        pv = {
            c: (None if v == "__HIVE_DEFAULT_PARTITION__" else v)
            for c, v in (f.get("partition") or {}).items()
        }
        for c in part_cols:
            pv.setdefault(c, None)
        add = {
            "path": "file://" + urllib.parse.quote(abs_path),
            "partitionValues": pv,
            "size": os.path.getsize(abs_path),
            "modificationTime": int(os.path.getmtime(abs_path) * 1000),
            "dataChange": True,
        }
        # translate the lake manifest's footer stats into add.stats so
        # foreign Delta readers data-skip the exported table too
        lake_stats = f.get("stats") or {}
        add["stats"] = json.dumps(
            {
                "numRecords": f.get("rows", 0),
                "minValues": {c: rng[0] for c, rng in lake_stats.items()},
                "maxValues": {c: rng[1] for c, rng in lake_stats.items()},
                "nullCount": {},
            }
        )
        dv = dv_by_file.get(f["path"])
        if dv:
            add["deletionVector"] = dv
        adds.append(add)
    meta_actions = w._meta_actions(schema, part_cols)
    if dv_by_file:
        meta_actions[0] = {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": [
                    "appendOnly",
                    "invariants",
                    "deletionVectors",
                ],
            }
        }
    w._commit(0, meta_actions + [{"add": a} for a in adds])
    return DeltaTableReader(dest_path)


# ---------------------------------------------------------------------------
# Streaming source over the Delta log (the delta-spark streaming-read
# shape): every log version is one micro-batch; add actions with
# dataChange=true are emitted, dataChange=false commits (OPTIMIZE) are
# skipped silently — that marker exists exactly so streams don't re-emit
# compacted rows — and a dataChange remove (overwrite/delete) fails
# loudly, matching the real source's default for non-append changes.
# ---------------------------------------------------------------------------
try:  # the Python DataSource API needs pyspark >= 4; guard for importers
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )
except ImportError:  # pragma: no cover
    DataSource = DataSourceStreamReader = InputPartition = object  # type: ignore


class _DeltaFilePartition(InputPartition):
    def __init__(self, path: str, data_fields: list, part_consts: list,
                 out_order: list, cdf: tuple | None = None):
        #: data_fields: [(name, spark simpleString type)] for the file bytes
        #: part_consts: [(name, spark type, raw string value | None)]
        #: out_order: full column order of the DECLARED schema — Spark maps
        #: the Arrow batch to the schema POSITIONALLY
        #: cdf: (change_type | None, commit_version, commit_ts_ms) in
        #: readChangeFeed mode — change_type None means the file is an
        #: explicit cdc file carrying its own _change_type column
        self.path = path
        self.data_fields = data_fields
        self.part_consts = part_consts
        self.out_order = out_order
        self.cdf = cdf


class DeltaCdfStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("delta_cdf requires a 'path' option")
        self.reader = DeltaTableReader(path)
        snap = self.reader.snapshot()
        if snap.configuration.get("delta.columnMapping.mode", "none") != "none":
            raise DeltaProtocolError(
                "delta_cdf streaming does not support column mapping"
            )
        self._snap = snap
        self._cdf = (
            str(options.get("readChangeFeed", "false")).lower() == "true"
        )
        #: delta-spark's escape hatches for non-append commits on the
        #: plain stream: skipChangeCommits drops any dataChange
        #: remove-carrying commit wholesale (adds included);
        #: ignoreDeletes tolerates remove-ONLY commits (partition
        #: deletes) but still fails rewrites
        self._skip_change = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self._ignore_deletes = (
            str(options.get("ignoreDeletes", "false")).lower() == "true"
        )
        #: delta-spark's stream-start controls: startingVersion (an int,
        #: or "latest" = only commits after stream start) /
        #: startingTimestamp (first commit at or after it)
        sv = options.get("startingVersion")
        st = options.get("startingTimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "pass startingVersion OR startingTimestamp, not both"
            )
        if sv is not None:
            self._start = (
                self.reader.latest_version()
                if str(sv).lower() == "latest"
                else int(sv) - 1
            )
        elif st is not None:
            later = [
                h["version"]
                for h in self.reader.history()
                if h["timestamp"] >= int(st)
            ]
            if not later:
                raise ValueError(
                    f"no commit at or after startingTimestamp {st}"
                )
            self._start = min(later) - 1
        else:
            self._start = -1
        from aws_glue_data_lake_spark.cdfratelimit import CdfRateLimiter

        mft = options.get("maxFilesPerTrigger") or options.get(
            "maxfilespertrigger"
        )
        ev = options.get("endingVersion") or options.get("endingversion")
        self._limiter = CdfRateLimiter(
            int(mft) if mft is not None else None,
            int(ev) if ev is not None else None,
            floor=(self._start, 0),
        )
        self._units: dict[int, list] = {}

    def initialOffset(self) -> dict:
        off = {"version": self._start, "file": 0}
        self._limiter.seed(off)
        return off

    def latestOffset(self) -> dict:
        return self._limiter.latest(
            self.reader.latest_version(),
            lambda v: len(self._version_units(v)),
        )

    def _version_units(self, v: int) -> list:
        """Planned partitions for ONE commit, memoized (deterministic
        order -> sub-commit offsets replay exactly); the append-only /
        skipChangeCommits / ignoreDeletes contract is enforced here so
        latestOffset's unit counting and partitions' planning agree."""
        if v in self._units:
            return self._units[v]
        units = self._plan_version(v)
        if len(self._units) > 256:
            self._units.clear()
        self._units[v] = units
        return units

    def partitions(self, start: dict, end: dict):
        from aws_glue_data_lake_spark.cdfratelimit import (
            slice_version_range,
        )

        self._limiter.seed(start)
        self._limiter.seed(end)
        parts = []
        for v, lo, hi in slice_version_range(start, end):
            units = self._version_units(v)
            parts.extend(units[lo:hi])
        return parts

    def _check_schema_stable(self, v: int) -> None:
        """Pinned mid-stream schema-evolution behavior (VERDICT r13
        item 3): the stream schema is pinned at start (``self._snap``).
        A commit AT OR BELOW the pinned tip carrying an older SUBSET
        schema replays fine (its files NULL-backfill in ``read``); any
        commit whose schema adds/retypes a column — or any schema
        change at all in commits PAST the pinned tip (mid-stream
        ADD/RENAME/DROP COLUMN) — fails loudly with a restart message,
        delta-spark's behavior without schemaTrackingLocation. Silent
        alternatives are worse: positional Arrow binding would drop a
        new column without a trace."""
        pinned = [
            (f.name, f.dataType.simpleString())
            for f in self._snap.schema.fields
        ]
        with open(os.path.join(self.reader._log, f"{v:020d}.json")) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                md = action.get("metaData")
                if not md:
                    continue
                new_st = StructType.fromJson(
                    json.loads(md["schemaString"])
                )
                new = [
                    (fl.name, fl.dataType.simpleString())
                    for fl in new_st.fields
                ]
                if new == pinned:
                    continue
                extra = [
                    nt for nt in new if nt not in pinned
                ]
                if extra or v > self._snap.version:
                    from aws_glue_data_lake_spark.cdfratelimit import (
                        schema_changed_error,
                    )

                    raise schema_changed_error(
                        "delta_cdf", v,
                        ", ".join(f"{n} {t}" for n, t in pinned),
                        ", ".join(f"{n} {t}" for n, t in new),
                    )

    def _plan_version(self, v: int):
        self._check_schema_stable(v)
        lo, hi = v - 1, v
        snap = self._snap
        part_cols = set(snap.partition_columns)
        data_fields = [
            (f.name, f.dataType.simpleString())
            for f in snap.schema.fields
            if f.name not in part_cols
        ]
        part_types = {
            f.name: f.dataType.simpleString()
            for f in snap.schema.fields
            if f.name in part_cols
        }
        if self._cdf:
            # readChangeFeed mode: every commit's row-level delta (the
            # delta-spark CDF stream): cdc files as-is, add-only commits
            # as inserts, remove-only commits as deletes; unreplayable
            # rewrites raise in _change_entries (skipChangeCommits is
            # deliberately not faked — a silent gap is worse than a stop)
            # Column order comes from the snapshot PINNED at stream start
            # (matching plain mode and Spark's fixed stream-start schema):
            # a fresh cdf_schema() here would pick up a mid-stream
            # mergeSchema append and ask the batch builder for a column it
            # has no arrays for.
            out_order = [f.name for f in snap.schema.fields] + [
                "_change_type",
                "_commit_version",
                "_commit_timestamp",
            ]
            parts = []
            for v in range(lo + 1, hi + 1):
                ts, entries = self.reader._change_entries(v)
                for p, pv, ct in entries:
                    consts = [
                        (c, part_types[c], pv.get(c))
                        for c in snap.partition_columns
                    ]
                    parts.append(
                        _DeltaFilePartition(
                            p, data_fields, consts, out_order,
                            cdf=(ct, v, ts),
                        )
                    )
            return parts
        parts = []
        for v in range(lo + 1, hi + 1):
            adds: list[dict] = []
            removes = 0
            with open(
                os.path.join(self.reader._log, f"{v:020d}.json")
            ) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    action = json.loads(line)
                    if "add" in action and action["add"].get(
                        "dataChange", True
                    ):
                        adds.append(action["add"])
                    elif "remove" in action and action["remove"].get(
                        "dataChange", True
                    ):
                        removes += 1
            if removes or any(a.get("deletionVector") for a in adds):
                # a non-append commit on the plain stream: delta-spark's
                # options decide — skipChangeCommits drops the whole
                # commit; ignoreDeletes tolerates remove-ONLY commits
                # (partition deletes); otherwise fail loudly
                if self._skip_change:
                    continue
                if self._ignore_deletes and removes and not adds:
                    continue
                raise ValueError(
                    f"delta_cdf is append-only: version {v} "
                    + (
                        "removes data (overwrite/delete)"
                        if removes
                        else "attaches a deletion vector (DELETE)"
                    )
                    + "; re-read a fresh snapshot, or set "
                    "skipChangeCommits=true (drop such commits) / "
                    "ignoreDeletes=true (tolerate remove-only commits), "
                    "or stream readChangeFeed=true for the row-level feed"
                )
            for a in adds:
                consts = [
                    (c, part_types[c], a.get("partitionValues", {}).get(c))
                    for c in snap.partition_columns
                ]
                parts.append(
                    _DeltaFilePartition(
                        self.reader._abs_path(a["path"]),
                        data_fields,
                        consts,
                        [f.name for f in snap.schema.fields],
                    )
                )
        return parts

    def read(self, partition):
        # executors: stream the file's record batches, attaching the
        # partition columns as typed constants (Delta keeps them out of
        # the file bytes)
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA = {
            "bigint": pa.int64(), "int": pa.int32(), "double": pa.float64(),
            "float": pa.float32(), "boolean": pa.bool_(), "string": pa.string(),
            "date": pa.date32(),
        }

        def conv(t: str, raw):
            if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
                return None
            if t in ("bigint", "int"):
                return int(raw)
            if t in ("double", "float"):
                return float(raw)
            if t == "boolean":
                return raw == "true"
            if t == "date":
                import datetime

                return datetime.date.fromisoformat(raw)
            return raw

        pf = pq.ParquetFile(partition.path)
        names = [n for n, _ in partition.data_fields]
        ct = None
        if partition.cdf is not None:
            ct, v, ts_ms = partition.cdf
            if ct is None:  # explicit cdc file: _change_type is in-file
                names = names + ["_change_type"]
        # columns a pre-evolution file predates NULL-backfill (parquet
        # missing-column contract; mid-stream widenings already failed
        # loudly at planning — _check_schema_stable)
        have = set(pf.schema_arrow.names)
        present = [n for n in names if n in have]
        types_of = dict(partition.data_fields)
        for batch in pf.iter_batches(columns=present):
            by_name = dict(zip(batch.schema.names, batch.columns))
            for n in names:
                if n not in by_name:
                    from aws_glue_data_lake_spark.cdfratelimit import (
                        pa_type_of,
                    )

                    by_name[n] = pa.nulls(
                        batch.num_rows, type=pa_type_of(types_of[n])
                    )
            for c, t, raw in partition.part_consts:
                pa_t = _PA.get(t, pa.string())
                by_name[c] = pa.array(
                    [conv(t, raw)] * batch.num_rows, type=pa_t
                )
            if partition.cdf is not None:
                n = batch.num_rows
                if ct is not None:
                    by_name["_change_type"] = pa.array([ct] * n, pa.string())
                by_name["_commit_version"] = pa.array([v] * n, pa.int64())
                by_name["_commit_timestamp"] = pa.array(
                    [ts_ms * 1000] * n, pa.timestamp("us", tz="UTC")
                )
            # Spark maps the batch onto the declared schema POSITIONALLY:
            # emit columns in exactly that order
            yield pa.RecordBatch.from_arrays(
                [by_name[c] for c in partition.out_order],
                names=list(partition.out_order),
            )

    def commit(self, end: dict) -> None:
        self._limiter.seed(end)  # the log is immutable; nothing to free

    def stop(self) -> None:
        pass


class DeltaCdfDataSource(DataSource):
    """``spark.readStream.format("delta_cdf").option("path", table_root)``
    after ``spark.dataSource.register(DeltaCdfDataSource)``. Default is
    the plain delta streaming-read shape (append-only, loud on changes);
    ``.option("readChangeFeed", "true")`` switches to the full Change
    Data Feed with ``_change_type`` / ``_commit_version`` /
    ``_commit_timestamp`` — the same toggle delta-spark uses."""

    @classmethod
    def name(cls):
        return "delta_cdf"

    def schema(self):
        r = DeltaTableReader(self.options["path"])
        if str(self.options.get("readChangeFeed", "false")).lower() == "true":
            return r.cdf_schema()
        return r.snapshot().schema

    def streamReader(self, schema):
        return DeltaCdfStreamReader(self.options)


def register_delta_cdf_source(spark) -> None:
    spark.dataSource.register(DeltaCdfDataSource)
