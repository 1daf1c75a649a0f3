"""UniForm / icebergCompatV2 (Delta PROTOCOL.md § Iceberg
Compatibility; VERDICT r11 missing-item 2): a Delta table stamped with
icebergCompatV2 + delta.universalFormat.enabledFormats=iceberg must
accept writes, and after every commit the zero-copy Iceberg metadata
view under <root>/metadata/ must read back EXACTLY the Delta state —
both engines over the same parquet bytes, columns resolved by parquet
field id (= delta.columnMapping.id)."""

import json
import os

import pytest

from aws_glue_data_lake_spark.deltacompat import (
    DeltaProtocolError,
    DeltaTableReader,
    DeltaTableWriter,
)
from aws_glue_data_lake_spark.icebergcompat import IcebergTableReader


def _uniform_table(path: str, partition: bool = False) -> None:
    """v0 log in the FOREIGN UniForm shape Databricks leaves: compat
    feature + columnMapping(id) + enabledFormats, physical names +
    field ids on every column."""
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    schema_string = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {
                 "delta.columnMapping.id": 1,
                 "delta.columnMapping.physicalName": "col-aaaa",
             }},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {
                 "delta.columnMapping.id": 2,
                 "delta.columnMapping.physicalName": "col-bbbb",
             }},
        ],
    })
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping",
                                   "icebergCompatV2"],
            }},
            {"metaData": {
                "id": "uniform-test", "format": {
                    "provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": ["v"] if partition else [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "2",
                    "delta.enableIcebergCompatV2": "true",
                    "delta.universalFormat.enabledFormats": "iceberg",
                },
                "createdTime": 0,
            }},
        ]:
            f.write(json.dumps(a) + "\n")


def _both_reads(spark, path):
    d = sorted(
        (r["k"], r["v"])
        for r in DeltaTableReader(path).to_df(spark).collect()
    )
    i = sorted(
        (r["k"], r["v"])
        for r in IcebergTableReader(path).to_df(spark).collect()
    )
    return d, i


def test_uniform_append_merge_keep_views_in_lockstep(spark, tmp_path):
    path = str(tmp_path / "t")
    _uniform_table(path)
    w = DeltaTableWriter(path)
    w.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ))
    d, i = _both_reads(spark, path)
    assert d == i == [(1, "a"), (2, "b")]
    # MERGE: update k=2, insert k=3 — the Iceberg view follows the
    # copy-on-write rewrite in the same commit
    w.merge(
        spark,
        spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"),
        keys=["k"],
    )
    d, i = _both_reads(spark, path)
    assert d == i == [(1, "a"), (2, "B"), (3, "c")]
    # CoW delete through merge's delete_keys leg syncs too
    w.merge(
        spark,
        spark.createDataFrame([], "k long, v string"),
        keys=["k"],
        delete_keys=spark.createDataFrame([(1,)], "k long"),
    )
    d, i = _both_reads(spark, path)
    assert d == i == [(2, "B"), (3, "c")]
    # the iceberg view advanced one snapshot per commit
    metas = IcebergTableReader(path)._metadata()
    assert len(metas["snapshots"]) == 3
    # data files are SHARED, not copied: every iceberg entry points
    # into the delta table's own directory
    for p, _pv in IcebergTableReader(path).snapshot().files:
        assert os.path.dirname(os.path.abspath(p)) == \
            os.path.abspath(path)


def test_uniform_delete_where_goes_copy_on_write(spark, tmp_path):
    """icebergCompatV2 disallows DV writes, so DELETE on a UniForm
    table must route copy-on-write: matching rows gone from BOTH
    views, no deletionVector descriptor anywhere in the log, and the
    untouched file carried by reference."""
    path = str(tmp_path / "t")
    _uniform_table(path)
    w = DeltaTableWriter(path)
    w.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).coalesce(1))  # one file holding k=1,2
    w.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    untouched = {
        p for p, _, _ in DeltaTableReader(path).snapshot().files
    }
    w.delete_where(spark, "k = 1")
    d, i = _both_reads(spark, path)
    assert d == i == [(2, "b"), (3, "c")]
    snap = DeltaTableReader(path).snapshot()
    assert all(dv is None for _, _, dv in snap.files)
    # only the file holding k=1 was rewritten; k=3's file carried
    assert len(untouched & {p for p, _, _ in snap.files}) == 1
    # deleting EVERY row of a file leaves no empty-file add behind
    w.delete_where(spark, "k >= 2")
    d, i = _both_reads(spark, path)
    assert d == i == []


#: Spark jobs of one copy-on-write DELETE on a two-file UniForm table,
#: one file affected, no CDF: the affected-file collect and the rewrite's
#: staging write. The UPDATE and DELETE rewrite body is shared; a probe
#: or a second scan added to it goes over.
COW_DELETE_JOBS = 3


def test_uniform_cow_delete_job_budget(spark, tmp_path):
    import uuid

    path = str(tmp_path / "t")
    _uniform_table(path)
    w = DeltaTableWriter(path)
    w.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ).coalesce(1))
    w.append(spark.createDataFrame([(9, "z")], "k long, v string"))
    sc = spark.sparkContext
    counts = []
    for k in (1, 2):
        group = f"cow-delete-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "copy-on-write delete job count")
        try:
            w.delete_where(spark, f"k = {k}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    d, i = _both_reads(spark, path)
    assert d == i == [(3, "c"), (9, "z")]
    # the first call warms the session; both must stay in budget
    assert max(counts) <= COW_DELETE_JOBS, counts


def test_uniform_partitioned_table_syncs_with_constant_columns(
    spark, tmp_path
):
    """Partitioned UniForm (round-12, second pass): the partition
    column is absent from the Delta file bytes (Hive layout), so the
    Iceberg view carries it in each entry's partition tuple and the
    reader reconstructs it as a constant (spec column-projection
    rule 2). Both views must agree INCLUDING the partition column, and
    the Iceberg manifest partition values must prune."""
    path = str(tmp_path / "t")
    _uniform_table(path, partition=True)
    w = DeltaTableWriter(path)
    w.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "k long, v string"
    ))
    d, i = _both_reads(spark, path)
    assert d == i == [(1, "a"), (2, "b"), (3, "a")]
    # manifest-level pruning on the partition column
    pruned = sorted(
        r["k"]
        for r in IcebergTableReader(path)
        .to_df(spark, partition_filter={"v": "a"})
        .collect()
    )
    assert pruned == [1, 3]
    # MERGE rewrites within partitions; views stay in lockstep
    w.merge(
        spark,
        spark.createDataFrame([(2, "B"), (4, "c")], "k long, v string"),
        keys=["k"],
    )
    d, i = _both_reads(spark, path)
    assert d == i == [(1, "a"), (2, "B"), (3, "a"), (4, "c")]


def test_icebergcompat_requires_column_mapping(spark, tmp_path):
    """The compat invariant itself: active icebergCompat without
    columnMapping must refuse (Iceberg readers would have no field ids
    to resolve columns by)."""
    path = str(tmp_path / "t")
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    schema_string = json.dumps({
        "type": "struct",
        "fields": [{"name": "k", "type": "long", "nullable": True,
                    "metadata": {}}],
    })
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["icebergCompatV2"],
            }},
            {"metaData": {
                "id": "t", "format": {
                    "provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {
                    "delta.enableIcebergCompatV2": "true",
                },
                "createdTime": 0,
            }},
        ]:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(DeltaProtocolError, match="columnMapping"):
        DeltaTableWriter(path).append(
            spark.createDataFrame([(1,)], "k long")
        )


def test_uniform_sync_is_incremental_for_pure_appends(spark, tmp_path):
    """Scale contract: a pure-append Delta commit must CARRY prior
    Iceberg manifests verbatim (no rewrite — pinned on the manifest
    paths) and add exactly one manifest for the new files; a
    file-removing commit (MERGE CoW) is MANIFEST-DIFFED (round 13):
    manifests with no removed file still carry verbatim, only affected
    ones rewrite — O(affected), never O(live files). The synced Delta
    version is stamped in the table properties."""
    from aws_glue_data_lake_spark.avrolite import read_container

    path = str(tmp_path / "t")
    _uniform_table(path)
    w = DeltaTableWriter(path)
    w.append(spark.createDataFrame([(1, "a")], "k long, v string"))

    def manifest_paths():
        r = IcebergTableReader(path)
        meta = r._metadata()
        tip = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _, mls, _ = read_container(
            tip["manifest-list"].removeprefix("file://")
        )
        return [m["manifest_path"] for m in mls], meta

    m1, meta1 = manifest_paths()
    assert len(m1) == 1
    assert meta1["properties"]["uniform.delta-version"] == "1"
    w.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    m2, meta2 = manifest_paths()
    # prior manifest carried VERBATIM + one new manifest for the adds
    assert m2[: len(m1)] == m1 and len(m2) == 2
    assert meta2["properties"]["uniform.delta-version"] == "2"
    # a remove-bearing commit (MERGE CoW rewrites k=1's file) diffs at
    # MANIFEST level: k=2's manifest — untouched — carries verbatim;
    # k=1's manifest held only the removed file (no survivors, so it is
    # dropped, not rewritten); the merge's new file gets one new
    # manifest
    w.merge(
        spark,
        spark.createDataFrame([(1, "A")], "k long, v string"),
        keys=["k"],
    )
    m3, meta3 = manifest_paths()
    assert len(m3) == 2
    assert m2[1] in m3  # untouched manifest carried verbatim
    assert m2[0] not in m3  # fully-removed manifest dropped
    assert meta3["properties"]["uniform.delta-version"] == "3"
    d, i = _both_reads(spark, path)
    assert d == i == [(1, "A"), (2, "b")]
    # survivors-keeping rewrite: one file with k=1,3 in ONE manifest;
    # deleting k=3 must rewrite that manifest with k=1 as an EXISTING
    # entry under its ORIGINAL sequence number
    w.append(spark.createDataFrame(
        [(3, "c"), (4, "d")], "k long, v string"
    ).repartitionByRange(2, "k"))  # two files, ONE manifest
    m4, _ = manifest_paths()
    seq_before = {
        e["data_file"]["file_path"]: e["sequence_number"]
        for mp in m4
        for e in read_container(mp)[1]
    }
    w.delete_where(spark, "k = 4")
    m5, _ = manifest_paths()
    carried = [mp for mp in m5 if mp in m4]
    rewritten = [mp for mp in m5 if mp not in m4]
    assert len(carried) == len(m4) - 1 and len(rewritten) == 1
    ents = read_container(rewritten[0])[1]
    assert [e["status"] for e in ents] == [0]  # EXISTING survivor
    fp = ents[0]["data_file"]["file_path"]
    assert ents[0]["sequence_number"] == seq_before[fp]
    d, i = _both_reads(spark, path)
    assert d == i == [(1, "A"), (2, "b"), (3, "c")]


def test_uniform_with_row_tracking_cow_delete_preserves_ids(
    spark, tmp_path
):
    """The realistic new-table combo (Databricks stamps rowTracking AND
    icebergCompatV2 by default): the UniForm CoW delete must preserve
    the surviving rows' stable row ids through the rewrite, the
    materialized id columns must stay invisible to both views, and the
    Iceberg view must match the Delta view after every commit."""
    import json as _json

    path = str(tmp_path / "t")
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    schema_string = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {
                 "delta.columnMapping.id": 1,
                 "delta.columnMapping.physicalName": "col-aaaa",
             }},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {
                 "delta.columnMapping.id": 2,
                 "delta.columnMapping.physicalName": "col-bbbb",
             }},
        ],
    })
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping", "icebergCompatV2",
                                   "rowTracking", "domainMetadata"],
            }},
            {"metaData": {
                "id": "t", "format": {
                    "provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {
                    # mode=name (equally valid UniForm; this reader's
                    # materialized-row-id support is gated off id mode)
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "2",
                    "delta.enableIcebergCompatV2": "true",
                    "delta.universalFormat.enabledFormats": "iceberg",
                    "delta.enableRowTracking": "true",
                    "delta.rowTracking.materializedRowIdColumnName":
                        "_row_id_mat",
                    "delta.rowTracking."
                    "materializedRowCommitVersionColumnName":
                        "_row_ver_mat",
                },
                "createdTime": 0,
            }},
        ]:
            f.write(_json.dumps(a) + "\n")
    w = DeltaTableWriter(path)
    w.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "k long, v string"
        ).coalesce(1).sortWithinPartitions("k")
    )
    r = DeltaTableReader(path)
    before = {
        x["k"]: x["_row_id"]
        for x in r.row_lineage(spark).collect()
    }
    w.delete_where(spark, "k IN (2, 5)")  # CoW (uniform) rewrite
    after = {
        x["k"]: x["_row_id"]
        for x in r.row_lineage(spark).collect()
    }
    assert set(after) == set(range(8)) - {2, 5}
    assert all(after[k] == before[k] for k in after), "ids moved"
    d, i = _both_reads(spark, path)
    assert d == i and [k for k, _ in d] == sorted(after)


def test_icebergcompat_without_uniform_still_blocks_dv_writes(
    spark, tmp_path
):
    """ADVICE r12: delta.enableIcebergCompatV2=true forbids writing
    deletion vectors REGARDLESS of whether universalFormat also names
    iceberg — a compat-enabled (but sync-less) table must take the
    copy-on-write DELETE so other engines can still generate the
    Iceberg view."""
    import json as _json
    import os as _os

    path = str(tmp_path / "t")
    _uniform_table(path)
    # strip the universalFormat property: compat on, uniform sync off
    log = _os.path.join(path, "_delta_log", f"{0:020d}.json")
    actions = [_json.loads(l) for l in open(log)]
    conf = actions[1]["metaData"]["configuration"]
    del conf["delta.universalFormat.enabledFormats"]
    with open(log, "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    w = DeltaTableWriter(path)
    w.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).coalesce(1))
    # no Iceberg view is maintained (sync off)
    assert not _os.path.exists(_os.path.join(path, "metadata"))
    w.delete_where(spark, "k = 1")
    snap = DeltaTableReader(path).snapshot()
    assert all(dv is None for _, _, dv in snap.files)
    got = sorted(
        (r["k"], r["v"])
        for r in DeltaTableReader(path).to_df(spark).collect()
    )
    assert got == [(2, "b")]


def _uniform_date_table(path: str, part_type: str = "date") -> None:
    """Foreign UniForm shape partitioned by a date (or timestamp)
    column — ADVICE r12's common real-table shape."""
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    schema_string = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {
                 "delta.columnMapping.id": 1,
                 "delta.columnMapping.physicalName": "col-aaaa",
             }},
            {"name": "ds", "type": part_type, "nullable": True,
             "metadata": {
                 "delta.columnMapping.id": 2,
                 "delta.columnMapping.physicalName": "col-bbbb",
             }},
        ],
    })
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping",
                                   "icebergCompatV2"],
            }},
            {"metaData": {
                "id": "uniform-date-test", "format": {
                    "provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": ["ds"],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "2",
                    "delta.enableIcebergCompatV2": "true",
                    "delta.universalFormat.enabledFormats": "iceberg",
                },
                "createdTime": 0,
            }},
        ]:
            f.write(json.dumps(a) + "\n")


def test_uniform_date_partitioned_appends_and_syncs(spark, tmp_path):
    """ADVICE r12 (high): a DATE-partitioned UniForm table must accept
    append + MERGE with both views in lockstep — previously the append
    durably committed and THEN the sync raised, diverging the views
    forever. Manifest partition values are days-since-epoch ints; the
    Iceberg reader reconstructs the date constant and prunes on a date
    partition_filter."""
    import datetime

    d1 = datetime.date(2024, 1, 5)
    d2 = datetime.date(2024, 2, 6)
    path = str(tmp_path / "t")
    _uniform_date_table(path)
    w = DeltaTableWriter(path)
    w.append(spark.createDataFrame(
        [(1, d1), (2, d2)], "k long, ds date"
    ))
    d, i = (
        sorted(
            (r["k"], r["ds"])
            for r in DeltaTableReader(path).to_df(spark).collect()
        ),
        sorted(
            (r["k"], r["ds"])
            for r in IcebergTableReader(path).to_df(spark).collect()
        ),
    )
    assert d == i == [(1, d1), (2, d2)]
    # the manifest stores days-since-epoch (spec § Partitioning)
    snap = IcebergTableReader(path).snapshot()
    assert sorted(
        pv["ds"] for _, pv in snap.files
    ) == [(d1 - datetime.date(1970, 1, 1)).days,
          (d2 - datetime.date(1970, 1, 1)).days]
    # date-valued partition_filter prunes in manifest representation
    pruned = sorted(
        r["k"]
        for r in IcebergTableReader(path)
        .to_df(spark, partition_filter={"ds": d1})
        .collect()
    )
    assert pruned == [1]
    # MERGE (remove-bearing commit) keeps the views in lockstep
    w.merge(
        spark,
        spark.createDataFrame([(2, d1), (3, d2)], "k long, ds date"),
        keys=["k"],
    )
    d2_rows = sorted(
        (r["k"], r["ds"])
        for r in IcebergTableReader(path).to_df(spark).collect()
    )
    assert d2_rows == [(1, d1), (2, d1), (3, d2)]


def test_uniform_unsyncable_partition_refuses_before_commit(
    spark, tmp_path
):
    """The gate half of ADVICE r12: a UniForm table whose partition
    column type has no partition-value serialization (binary) must
    refuse the append BEFORE the Delta commit — version unchanged, no
    divergence, retry-safe."""
    path = str(tmp_path / "t")
    _uniform_date_table(path, part_type="binary")
    w = DeltaTableWriter(path)
    with pytest.raises(DeltaProtocolError, match="BEFORE the commit"):
        w.append(spark.createDataFrame(
            [(1, bytearray(b"x"))], "k long, ds binary"
        ))
    # nothing was committed: version is still the bootstrap 0
    assert DeltaTableReader(path).snapshot().version == 0


def test_uniform_merge_schema_append_evolves_both_views(
    spark, tmp_path
):
    """mergeSchema append on a UniForm table (round 13): the evolved
    column gets mapping ids in the same commit, the post-commit sync
    mints a fresh APPEND-ONLY Iceberg schema-id, and both views read
    the evolved rows identically."""
    path = str(tmp_path / "t")
    _uniform_table(path)
    w = DeltaTableWriter(path)
    w.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    meta0 = IcebergTableReader(path)._metadata()
    w.append(
        spark.createDataFrame(
            [(2, "b", 9)], "k long, v string, score long"
        ),
        merge_schema=True,
    )
    meta1 = IcebergTableReader(path)._metadata()
    assert meta1["current-schema-id"] > meta0["current-schema-id"]
    assert len(meta1["schemas"]) == len(meta0["schemas"]) + 1
    d = sorted(
        (r["k"], r["v"], r["score"])
        for r in DeltaTableReader(path).to_df(spark).collect()
    )
    i = sorted(
        (r["k"], r["v"], r["score"])
        for r in IcebergTableReader(path).to_df(spark).collect()
    )
    assert d == i == [(1, "a", None), (2, "b", 9)]
