"""Iceberg metadata-tree compatibility (public table spec, jar-free):
the pure-Python Avro codec must round-trip the manifest layer, the
reader must replay metadata.json -> manifest list -> manifests into
exactly the live file set (deleted entries dropped, overwrites honored),
snapshot-id time travel must work, and unsupported capabilities
(row-level deletes, non-identity transforms) must fail loudly."""

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_glue_data_lake_spark.avrolite import read_container, write_container
from aws_glue_data_lake_spark.icebergcompat import (
    IcebergProtocolError,
    IcebergTableReader,
    IcebergTableWriter,
)


def _rows(spark, reader, **kw):
    return sorted(
        (r["k"], r["bucket"], r["v"]) for r in reader.to_df(spark, **kw).collect()
    )


def test_create_append_overwrite_time_travel(spark, tmp_path):
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "a", 40)],
        "k long, bucket string, v long",
    )
    r = w.create(df, partition_by=["bucket"])
    assert _rows(spark, r) == [
        (1, "a", 10), (2, "b", 20), (3, None, 30), (4, "a", 40)
    ]
    sid1 = r.snapshot().snapshot_id
    w.append(
        spark.createDataFrame([(5, "b", 50)], "k long, bucket string, v long")
    )
    w.overwrite_partition(
        spark.createDataFrame([(10, "a", 100)], "k long, bucket string, v long"),
        bucket="a",
    )
    assert _rows(spark, r) == [
        (2, "b", 20), (3, None, 30), (5, "b", 50), (10, "a", 100)
    ]
    # snapshot-id time travel
    assert _rows(spark, r, snapshot_id=sid1) == [
        (1, "a", 10), (2, "b", 20), (3, None, 30), (4, "a", 40)
    ]
    # manifest-level partition pruning
    assert _rows(spark, r, partition_filter={"bucket": "b"}) == [
        (2, "b", 20), (5, "b", 50)
    ]
    # null partition value round-trips as NULL
    assert r.to_df(spark).filter("bucket IS NULL").count() == 1
    # Iceberg data files CARRY their partition columns (unlike Delta)
    import pyarrow.parquet as pq

    snap = r.snapshot()
    any_file = snap.files[0][0]
    assert "bucket" in pq.ParquetFile(any_file).schema_arrow.names


def test_unsupported_capabilities_fail_loudly(spark, tmp_path):
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    w.create(
        spark.createDataFrame([(1, "a", 1)], "k long, bucket string, v long"),
        partition_by=["bucket"],
    )
    meta_dir = os.path.join(path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        v = int(f.read())
    mpath = os.path.join(meta_dir, f"v{v}.metadata.json")
    meta = json.load(open(mpath))
    # a non-identity transform is readable AND (round-10) appendable —
    # the transform applies at stage time; a filter needing an UNKNOWN
    # transform must still fail lazily, not misprune, and
    # overwrite_partition (logical-value kwargs) must refuse
    meta["partition-specs"][0]["fields"][0]["transform"] = "bucket[16]"
    with open(mpath, "w") as f:
        json.dump(meta, f)
    r = IcebergTableReader(path)
    assert r.to_df(spark).count() == 1  # reads fine
    w.append(
        spark.createDataFrame(
            [(2, "b", 2)], "k long, bucket string, v long"
        )
    )
    snap = IcebergTableReader(path).snapshot()
    got = sorted(
        x["k"] for x in IcebergTableReader(path).to_df(spark).collect()
    )
    assert got == [1, 2]
    # the appended file's partition value is the TRANSFORMED bucket id
    from aws_glue_data_lake_spark.icebergcompat import _transform_value

    new_file = next(
        pv for p, pv in snap.files if snap.file_seqs[p] == 2
    )
    assert new_file == {"bucket": _transform_value("bucket[16]", "b")}
    # (round-12) overwrite_partition accepts transform specs, but the
    # kwarg must be the transform RESULT — a logical string where the
    # int bucket id belongs refuses loudly instead of matching nothing
    with pytest.raises(IcebergProtocolError, match="RESULT"):
        w.overwrite_partition(
            spark.createDataFrame(
                [(3, "c", 3)], "k long, bucket string, v long"
            ),
            bucket="c",
        )
    with pytest.raises(IcebergProtocolError, match="id range"):
        w.overwrite_partition(
            spark.createDataFrame(
                [(3, "c", 3)], "k long, bucket string, v long"
            ),
            bucket=99,
        )
    # re-read the CURRENT tip (the append above advanced it) before
    # poisoning the spec with an unknown transform
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        v = int(f.read())
    mpath = os.path.join(meta_dir, f"v{v}.metadata.json")
    meta = json.load(open(mpath))
    meta["partition-specs"][0]["fields"][0]["transform"] = "zorder[2]"
    with open(mpath, "w") as f:
        json.dump(meta, f)
    with pytest.raises(IcebergProtocolError, match="unknown partition transform"):
        IcebergTableReader(path).to_df(
            spark, partition_filter={"bucket": "a"}
        )


def test_partition_transform_spec_vectors():
    """The spec's Appendix-B reference values: murmur3 bucket hashes and
    the truncate / temporal transform results."""
    import datetime

    from aws_glue_data_lake_spark.icebergcompat import (
        _bucket_hash_bytes,
        _murmur3_32,
        _transform_value,
    )

    # bucket hash vectors (hash value, before mod-N)
    assert _murmur3_32(_bucket_hash_bytes(34)) == 2017239379  # int/long
    assert _murmur3_32(_bucket_hash_bytes("iceberg")) == 1210000089
    assert (
        _murmur3_32(_bucket_hash_bytes(datetime.date(2017, 11, 16)))
        == -653330422
    )
    assert (
        _murmur3_32(
            _bucket_hash_bytes(datetime.datetime(2017, 11, 16, 22, 31, 8))
        )
        == -2047944441
    )
    assert _murmur3_32(_bucket_hash_bytes(b"\x00\x01\x02\x03")) == -188683207
    # transforms
    assert _transform_value("bucket[16]", 34) == 2017239379 % 16
    assert _transform_value("truncate[10]", 7) == 0
    assert _transform_value("truncate[10]", -3) == -10  # floor, not trunc
    assert _transform_value("truncate[3]", "iceberg") == "ice"
    d = datetime.date(2017, 11, 16)
    assert _transform_value("year", d) == 47
    assert _transform_value("month", d) == 574
    assert _transform_value("day", d) == 17486
    ts = datetime.datetime(2017, 11, 16, 22, 31, 8)
    assert _transform_value("hour", ts) == 419686
    assert _transform_value("identity", "x") == "x"
    assert _transform_value("void", "x") is None
    assert _transform_value("bucket[16]", None) is None


def test_foreign_bucket_partitioned_table_reads_and_prunes(spark, tmp_path):
    """A hand-built v2 tree partitioned by bucket[4](k) — the layout a
    foreign Java/Flink writer produces — must read completely and prune
    at manifest level from a partition_filter on the SOURCE column."""
    import uuid as _uuid

    from aws_glue_data_lake_spark.icebergcompat import (
        _bucket_hash_bytes,
        _manifest_entry_schema,
        _murmur3_32,
        _MANIFEST_LIST_SCHEMA,
        _partition_avro_fields,
        _STATUS_ADDED,
    )

    path = str(tmp_path / "fbuck")
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(meta_dir)
    os.makedirs(data_dir)

    def bucket4(k):
        return (_murmur3_32(_bucket_hash_bytes(k)) & 0x7FFFFFFF) % 4

    ks = list(range(20))
    by_bucket = {}
    for k in ks:
        by_bucket.setdefault(bucket4(k), []).append(k)
    entries = []
    import pyarrow as pa
    import pyarrow.parquet as pq

    for b, kvals in sorted(by_bucket.items()):
        fp = os.path.join(data_dir, f"b{b}.parquet")
        pq.write_table(
            pa.table({"k": pa.array(kvals, pa.int64()),
                      "v": pa.array([k * 10 for k in kvals], pa.int64())}),
            fp,
        )
        entries.append(
            {
                "status": _STATUS_ADDED,
                "snapshot_id": 1,
                "sequence_number": 1,
                "file_sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": {"k_bucket": b},
                    "record_count": len(kvals),
                    "file_size_in_bytes": os.path.getsize(fp),
                    "equality_ids": None,
                },
            }
        )
    mschema = _manifest_entry_schema(_partition_avro_fields([("k_bucket", "int")]))
    mpath = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-m0.avro")
    write_container(mpath, mschema, entries, metadata={"format-version": "2"})
    ml_path = os.path.join(meta_dir, f"snap-1-{_uuid.uuid4().hex}.avro")
    write_container(
        ml_path,
        _MANIFEST_LIST_SCHEMA,
        [{
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": 1,
            "min_sequence_number": 1,
            "added_snapshot_id": 1,
            "added_data_files_count": len(entries),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": len(ks),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }],
        metadata={"format-version": "2"},
    )
    meta = {
        "format-version": 2,
        "table-uuid": str(_uuid.uuid4()),
        "location": path,
        "last-sequence-number": 1,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "v", "required": False, "type": "long"},
            ],
        }],
        "default-spec-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [{
                "name": "k_bucket",
                "transform": "bucket[4]",
                "source-id": 1,
                "field-id": 1000,
            }],
        }],
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 1,
        "snapshots": [{
            "snapshot-id": 1,
            "sequence-number": 1,
            "timestamp-ms": 0,
            "manifest-list": ml_path,
            "schema-id": 0,
            "summary": {"operation": "append"},
        }],
        "snapshot-log": [{"snapshot-id": 1, "timestamp-ms": 0}],
        "metadata-log": [],
        "properties": {},
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")

    r = IcebergTableReader(path)
    snap = r.snapshot()
    assert snap.partition_by == ("k_bucket",)
    assert snap.spec_fields == [("k_bucket", "bucket[4]", "k")]
    # full read: every source row, source columns intact
    assert sorted(x.k for x in r.to_df(spark).collect()) == ks
    # pruned read on the SOURCE column: only bucket4(7)'s file scans
    got = r.to_df(spark, partition_filter={"k": 7})
    assert sorted(x.k for x in got.collect()) == sorted(by_bucket[bucket4(7)])


def test_avro_container_roundtrip_unions_maps_arrays():
    schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "opt", "type": ["null", "long"], "default": None},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "bytes"},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "q", "type": ["null", "string"]}],
                },
            },
        ],
    }
    recs = [
        {
            "s": "héllo", "opt": None, "xs": [0, -1, 2**40],
            "m": {"a": "1", "b": "2"}, "d": -0.125, "b": b"\x00\xff",
            "nested": {"q": None},
        },
        {
            "s": "", "opt": -(2**50), "xs": [], "m": {}, "d": 1e300,
            "b": b"", "nested": {"q": "x"},
        },
    ]
    for codec in ("null", "deflate"):
        write_container("/tmp/_avro_rt.avro", schema, recs, codec=codec)
        _, got, _ = read_container("/tmp/_avro_rt.avro")
        assert got == recs, codec


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    xs=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), max_size=20
    ),
    codec=st.sampled_from(["null", "deflate"]),
)
def test_avro_long_zigzag_roundtrip(tmp_path_factory, xs, codec):
    """zigzag varints are the wire format everything else builds on —
    property-check them across the long range, both codecs."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "xs", "type": {"type": "array", "items": "long"}}],
    }
    p = str(tmp_path_factory.mktemp("avro") / "t.avro")
    write_container(p, schema, [{"xs": xs}], codec=codec)
    _, got, _ = read_container(p)
    assert got == [{"xs": xs}]


def test_export_lake_snapshot_zero_copy(spark, tmp_path):
    """An unpartitioned LakeTable snapshot exports as a real Iceberg v2
    table zero-copy (absolute data_file paths, row counts from the lake
    manifest). Partitioned snapshots export too (round-12): the
    partition column is absent from the lake file bytes, so the reader
    reconstructs it as the per-entry partition constant — values,
    types, and manifest pruning all checked."""
    from aws_glue_data_lake_spark.icebergcompat import export_lake_snapshot
    from aws_glue_data_lake_spark.lake import LakeTable

    src = LakeTable(str(tmp_path / "lake"))
    df = spark.range(50).selectExpr("id AS k", "id * 3 AS v")
    src.create(df.repartitionByRange(3, "k"), stat_cols=["k"])
    reader = export_lake_snapshot(src, str(tmp_path / "ice"))
    got = reader.to_df(spark)
    assert got.count() == 50
    assert got.agg({"v": "sum"}).first()[0] == sum(i * 3 for i in range(50))
    snap = reader.snapshot()
    assert all(os.path.isabs(p) for p, _ in snap.files)
    # partitioned: exports with identity spec + constant reconstruction
    part = LakeTable(str(tmp_path / "plake"))
    part.create(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
            "k long, bucket string, v long",
        ),
        partition_by=["bucket"],
    )
    r2 = export_lake_snapshot(part, str(tmp_path / "ice2"))
    rows = sorted(
        (x["k"], x["bucket"], x["v"])
        for x in r2.to_df(spark).collect()
    )
    assert rows == [(1, "a", 10), (2, "b", 20), (3, "a", 30)]
    # manifest partition pruning over the reconstructed column
    pruned = sorted(
        x["k"]
        for x in r2.to_df(spark, partition_filter={"bucket": "a"})
        .collect()
    )
    assert pruned == [1, 3]


def test_position_deletes_merge_on_read(spark, tmp_path):
    """Format-v2 POSITION deletes (the MERGE-INTO merge-on-read path):
    delete_where commits (file_path, pos) tombstones through a content=1
    manifest without rewriting data; the scan applies them as a broadcast
    anti-join; time travel sees pre-delete rows; deletes stack and
    survive appends and partition overwrites (tombstones naming removed
    files are inert). A content=2 entry without equality_ids is
    malformed and fails loudly."""
    from aws_glue_data_lake_spark.avrolite import read_container

    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    r = w.create(
        spark.createDataFrame(
            [(i, "ab"[i % 2], i * 10) for i in range(20)],
            "k long, bucket string, v long",
        ),
        partition_by=["bucket"],
    )
    sid1 = r.snapshot().snapshot_id
    w.delete_where(spark, "k % 5 = 0")
    got = sorted(x.k for x in r.to_df(spark).collect())
    assert got == [k for k in range(20) if k % 5 != 0]
    # no data file was rewritten: same data file set, plus tombstones
    snap = r.snapshot()
    assert snap.delete_files and len(snap.files) == len(
        r.snapshot(sid1).files
    )
    # time travel predates the tombstones
    assert r.to_df(spark, snapshot_id=sid1).count() == 20
    # deletes survive appends and partition overwrites
    w.append(
        spark.createDataFrame([(100, "a", 1)], "k long, bucket string, v long")
    )
    w.overwrite_partition(
        spark.createDataFrame([(200, "b", 2)], "k long, bucket string, v long"),
        bucket="b",
    )
    rows = sorted((x.k, x.bucket) for x in r.to_df(spark).collect())
    assert (0, "a") not in rows and (10, "a") not in rows
    assert (200, "b") in rows and (100, "a") in rows
    # second delete stacks on the first
    w.delete_where(spark, "k = 2")
    assert 2 not in {x.k for x in r.to_df(spark).collect()}
    # no-op delete returns the current snapshot without a commit
    before = r.snapshot().snapshot_id
    assert w.delete_where(spark, "k = 99999") == before
    # a content=2 entry with NO equality_ids is malformed: doctor a manifest
    snap = r.snapshot()
    meta_dir = os.path.join(path, "metadata")
    import glob as g

    for mpath in g.glob(os.path.join(meta_dir, "*-m0.avro")):
        schema, entries, meta = read_container(mpath)
        if meta.get("content") == b"deletes":
            for e in entries:
                e["data_file"]["content"] = 2
            from aws_glue_data_lake_spark.avrolite import write_container

            write_container(mpath, schema, entries,
                            {k: v for k, v in meta.items()})
            break
    with pytest.raises(IcebergProtocolError, match="equality"):
        r.snapshot()


def test_position_delete_file_sorted_and_counted(spark, tmp_path):
    """The v2 position-delete file a DELETE writes is sorted by
    (file_path, pos), as the spec requires, and its manifest entry's
    record_count equals the file's row count."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    r = w.create(spark.range(200).selectExpr("id AS k").repartition(4))
    assert len(r.snapshot().files) == 4
    w.delete_where(spark, "k % 3 = 0")
    (dst,) = r.snapshot().delete_files
    rows = pq.read_table(dst).to_pydict()
    pairs = list(zip(rows["file_path"], rows["pos"]))
    assert len(pairs) == len([k for k in range(200) if k % 3 == 0])
    assert pairs == sorted(pairs)
    assert len({fp for fp, _ in pairs}) == len(r.snapshot().files)
    (entry,) = [
        e
        for mf in w._manifest_list_of(r._metadata())
        if mf.get("content", 0) == 1
        for e in read_container(mf["manifest_path"])[1]
    ]
    assert entry["data_file"]["record_count"] == len(pairs)
    assert sorted(x.k for x in r.to_df(spark).collect()) == [
        k for k in range(200) if k % 3 != 0
    ]


def test_compact_and_expire_snapshots_lifecycle(spark, tmp_path):
    """compact() folds position-delete tombstones into rewritten data
    files (content identical, delete_files empty); expire_snapshots()
    then drops old snapshots and physically deletes only the files no
    kept snapshot references — the rewrite_data_files + expire_snapshots
    maintenance pair."""
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    r = w.create(
        spark.createDataFrame(
            [(i, "ab"[i % 2], i * 10) for i in range(20)],
            "k long, bucket string, v long",
        ),
        partition_by=["bucket"],
    )
    w.delete_where(spark, "k < 5")
    before = sorted((x.k, x.bucket, x.v) for x in r.to_df(spark).collect())
    assert r.snapshot().delete_files
    w.compact(spark)
    snap = r.snapshot()
    assert not snap.delete_files  # tombstone debt folded away
    assert sorted(
        (x.k, x.bucket, x.v) for x in r.to_df(spark).collect()
    ) == before
    # all three snapshots still present pre-expire
    meta = IcebergTableReader(path)._metadata()
    assert len(meta["snapshots"]) == 3
    removed = w.expire_snapshots(keep_last=1)
    assert removed, "expire should delete pre-compact files + manifests"
    meta = IcebergTableReader(path)._metadata()
    assert len(meta["snapshots"]) == 1
    assert sorted(
        (x.k, x.bucket, x.v) for x in r.to_df(spark).collect()
    ) == before
    with pytest.raises(Exception):
        w.expire_snapshots(keep_last=0)


def test_iceberg_cdf_streaming_source(spark, tmp_path):
    """Streaming over the Iceberg snapshot log: one micro-batch per
    snapshot emitting exactly the files that snapshot ADDED (carried
    existing entries never re-emit); delete/overwrite snapshots fail the
    stream loudly."""
    from aws_glue_data_lake_spark.icebergcompat import (
        register_iceberg_cdf_source,
    )

    register_iceberg_cdf_source(spark)
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    w.create(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k long, bucket string, v long"
        ),
        partition_by=["bucket"],
    )
    w.append(
        spark.createDataFrame([(3, "a", 30)], "k long, bucket string, v long")
    )
    w.append(
        spark.createDataFrame([(4, None, 40)], "k long, bucket string, v long")
    )

    def drain(name):
        q = (
            spark.readStream.format("iceberg_cdf")
            .option("path", path)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("ice_cdf_t")
    got = sorted(
        (x.k, x.bucket, x.v)
        for x in spark.sql("SELECT * FROM ice_cdf_t").collect()
    )
    assert got == [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, None, 40)]

    # a delete snapshot (merge-on-read tombstones) fails the stream
    w.delete_where(spark, "k = 1")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="append-only"):
        drain("ice_cdf_t2")


def test_equality_deletes_merge_on_read(spark, tmp_path):
    """Format-v2 EQUALITY deletes (the Flink-CDC write shape):
    equality_delete commits key rows through a content=2 entry with
    equality_ids; earlier rows matching null-safely on those columns
    disappear merge-on-read; rows re-inserted in a LATER commit survive
    the sequence-number gate; compact() folds the debt away."""
    path = str(tmp_path / "iceq")
    w = IcebergTableWriter(path)
    r = w.create(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "a", 40)],
            "k long, bucket string, v long",
        )
    )                                                             # seq 1
    # delete k in (2, 3) by key column
    w.equality_delete(
        spark.createDataFrame([(2,), (3,)], "k long")
    )                                                             # seq 2
    got = sorted(x.k for x in r.to_df(spark).collect())
    assert got == [1, 4]
    snap = r.snapshot()
    assert snap.eq_deletes and snap.eq_deletes[0][1] == ("k",)
    # re-insert k=2 AFTER the delete: the seq gate keeps it
    w.append(spark.createDataFrame([(2, "z", 99)], "k long, bucket string, v long"))
    got = sorted((x.k, x.v) for x in r.to_df(spark).collect())
    assert got == [(1, 10), (2, 99), (4, 40)]
    # null-safe match: delete bucket IS NULL rows via the bucket column
    w.create_like = None  # no-op attr to keep linters quiet
    w.equality_delete(
        spark.createDataFrame([(None,)], "bucket string"), ["bucket"]
    )
    got = sorted(x.k for x in r.to_df(spark).collect())
    assert got == [1, 2, 4]  # k=3 (bucket NULL) gone, later rows kept
    # composite-key delete (two equality columns, one matching row)
    w.equality_delete(
        spark.createDataFrame([(4, "a"), (9, "x")], "k long, bucket string")
    )
    assert sorted(x.k for x in r.to_df(spark).collect()) == [1, 2]
    # empty key set is a no-op commit-wise
    before = r.snapshot().snapshot_id
    assert (
        w.equality_delete(spark.createDataFrame([], "k long")) == before
    )
    # position + equality deletes compose
    w.delete_where(spark, "k = 1")
    assert sorted(x.k for x in r.to_df(spark).collect()) == [2]
    # compact folds every delete away; result unchanged
    w.compact(spark)
    snap2 = r.snapshot()
    assert not snap2.eq_deletes and not snap2.delete_files
    assert sorted(x.k for x in r.to_df(spark).collect()) == [2]
    # time travel before the first equality delete still sees all rows
    first_sid = sorted(
        s["snapshot-id"]
        for s in __import__("json").load(
            open(sorted(__import__("glob").glob(
                os.path.join(path, "metadata", "v*.metadata.json")
            ))[-1])
        )["snapshots"]
    )[0]
    assert r.to_df(spark, snapshot_id=first_sid).count() == 4


def test_equality_delete_same_commit_semantics(spark, tmp_path):
    """The spec's strict-inequality gate: an equality delete does NOT
    apply to data files with the SAME sequence number (rows written in
    the same commit as the delete survive) and unknown equality columns
    fail loudly."""
    path = str(tmp_path / "iceq2")
    w = IcebergTableWriter(path)
    r = w.create(spark.createDataFrame([(1, 10)], "k long, v long"))  # seq 1
    w.equality_delete(spark.createDataFrame([(1,)], "k long"))        # seq 2
    assert r.to_df(spark).count() == 0
    # a delete whose seq EQUALS the data file's must not drop it: doctor
    # the data manifest entry seq up to the delete's seq
    snap = r.snapshot()
    (dpath, _names, dseq) = snap.eq_deletes[0]
    (fpath, _pv) = snap.files[0]
    assert snap.file_seqs[fpath] < dseq
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown equality column"):
        w.equality_delete(spark.createDataFrame([(1,)], "nope long"))


def test_manifest_column_bounds_and_data_skipping(spark, tmp_path):
    """Every staged data file records value_counts / null_value_counts /
    lower_bounds / upper_bounds (spec fields 109/110/125/128, Appendix-D
    binary bounds); stats_filter prunes non-overlapping files at
    manifest level, conservatively; the zero-copy lake export translates
    its own footer stats into bounds."""
    from aws_glue_data_lake_spark.icebergcompat import (
        _decode_bound,
        _encode_bound,
    )

    # Appendix-D encodings round-trip
    import datetime as dt
    assert _decode_bound("long", _encode_bound("long", -7)) == -7
    assert _decode_bound("int", _encode_bound("int", 41)) == 41
    assert _decode_bound("double", _encode_bound("double", -0.5)) == -0.5
    assert _decode_bound("string", _encode_bound("string", "héllo")) == "héllo"
    d = dt.date(2017, 11, 16)
    assert _decode_bound("date", _encode_bound("date", d)) == d
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    assert _decode_bound("timestamp", _encode_bound("timestamp", ts)) == ts
    assert _encode_bound("date", "not-a-date") is None  # never mis-encodes

    path = str(tmp_path / "icestats")
    w = IcebergTableWriter(path)
    df = spark.range(0, 1000).selectExpr(
        "id as k", "cast(id as double) / 2 as v"
    )
    r = w.create(df.repartitionByRange(8, "k"))
    snap = r.snapshot()
    assert len(snap.files) == 8
    assert len(snap.col_stats) == 8
    st = snap.col_stats[snap.files[0][0]]
    assert st["k"]["count"] == st["v"]["count"]
    assert st["k"]["nulls"] == 0
    assert sum(s["k"]["count"] for s in snap.col_stats.values()) == 1000
    # the 8 range files tile [0, 1000): global min/max recovered exactly
    assert min(s["k"]["min"] for s in snap.col_stats.values()) == 0
    assert max(s["k"]["max"] for s in snap.col_stats.values()) == 999
    # skipping: a tight range keeps a strict subset of files
    kept = [
        p for p, _ in snap.files
        if snap.col_stats[p]["k"]["min"] <= 500 <= snap.col_stats[p]["k"]["max"]
    ]
    pruned = r.to_df(spark, stats_filter={"k": (500, 500)})
    assert pruned.count() == sum(
        snap.col_stats[p]["k"]["count"] for p in kept
    )
    assert len(kept) < 8
    assert pruned.where("k = 500").count() == 1
    # conservative on unknown columns
    assert r.to_df(spark, stats_filter={"nope": (0, 1)}).count() == 1000
    # bounds survive append + overwrite rewrites (carried entries keep
    # their maps through the avro round-trip)
    w.append(spark.range(1000, 1100).selectExpr(
        "id as k", "cast(id as double) / 2 as v"
    ))
    snap2 = r.snapshot()
    assert len(snap2.col_stats) >= 9
    assert r.to_df(spark, stats_filter={"k": (1050, None)}).where(
        "k >= 1050"
    ).count() == 50

    # lake export translates footer stats into bounds
    from aws_glue_data_lake_spark.icebergcompat import export_lake_snapshot
    from aws_glue_data_lake_spark.lake import LakeTable

    src = LakeTable(str(tmp_path / "lk"))
    src.create(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v")
        .repartitionByRange(4, "k"),
        stat_cols=["k"],
    )
    er = export_lake_snapshot(src, str(tmp_path / "ice_exp"))
    esnap = er.snapshot()
    assert len(esnap.col_stats) == 4
    assert all("k" in s for s in esnap.col_stats.values())
    assert er.to_df(spark, stats_filter={"k": (0, 10)}).count() < 100


def test_convert_parquet_dir_in_place(spark, tmp_path):
    """Zero-copy migrate of a raw (unpartitioned) parquet dir; Hive
    layouts are refused with a pointer at the Delta convert (partition
    columns are not in the file bytes)."""
    path = str(tmp_path / "raw")
    spark.range(100).selectExpr("id as k", "id * 3 as v").repartition(
        4
    ).write.parquet(path)
    w = IcebergTableWriter(path)
    r = w.convert_parquet_dir(spark)
    assert r.to_df(spark).count() == 100
    assert r.to_df(spark).agg({"v": "sum"}).first()[0] == sum(
        3 * i for i in range(100)
    )
    snap = r.snapshot()
    assert snap.col_stats and len(snap.files) == 4
    # adopted table is first-class: row-level delete works
    w.delete_where(spark, "k < 10")
    assert r.to_df(spark).count() == 90
    # partitioned layouts refused
    ppath = str(tmp_path / "praw")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, part string"
    ).write.partitionBy("part").parquet(ppath)
    with pytest.raises(IcebergProtocolError, match="Hive partition"):
        IcebergTableWriter(ppath).convert_parquet_dir(spark)


def test_refs_tags_and_history(spark, tmp_path):
    """Spec refs: main tracks the current snapshot; create_tag pins a
    snapshot by name for to_df(ref=...) time travel, survives later
    commits, and protects its snapshot from expire_snapshots."""
    path = str(tmp_path / "refs")
    w = IcebergTableWriter(path)
    r = w.create(spark.createDataFrame([(1, 1)], "k long, v long"))
    sid1 = r.snapshot().snapshot_id
    w.create_tag("v1.0")
    w.append(spark.createDataFrame([(2, 2)], "k long, v long"))
    w.append(spark.createDataFrame([(3, 3)], "k long, v long"))
    # main follows the head; the tag stays pinned
    assert r.snapshot(ref="main").snapshot_id == r.snapshot().snapshot_id
    assert r.snapshot(ref="v1.0").snapshot_id == sid1
    assert sorted(x.k for x in r.to_df(spark, ref="v1.0").collect()) == [1]
    assert sorted(x.k for x in r.to_df(spark).collect()) == [1, 2, 3]
    with pytest.raises(FileNotFoundError, match="no ref"):
        r.snapshot(ref="nope")
    with pytest.raises(ValueError, match="main"):
        w.create_tag("main")
    # history: newest first, timestamps monotone, operations recorded
    h = r.history()
    assert [x["operation"] for x in h] == ["append", "append", "append"]
    assert all(
        h[i]["timestamp_ms"] >= h[i + 1]["timestamp_ms"]
        for i in range(len(h) - 1)
    )
    # expire keeps the tagged snapshot alive alongside the head
    removed = w.expire_snapshots(keep_last=1)
    assert sorted(x.k for x in r.to_df(spark, ref="v1.0").collect()) == [1]
    assert sorted(x.k for x in r.to_df(spark).collect()) == [1, 2, 3]
    assert removed  # the untagged middle snapshot's metadata went away


def test_append_merge_schema_evolution(spark, tmp_path):
    """Spec schema evolution: merge_schema appends add a new schemas[]
    entry with a bumped schema-id and fresh field ids; old snapshots
    keep their old schema (time travel reads it); later plain commits
    must NOT regress the evolved schema."""
    path = str(tmp_path / "iev")
    w = IcebergTableWriter(path)
    r = w.create(spark.createDataFrame([(1, 10)], "k long, v long"))
    sid1 = r.snapshot().snapshot_id
    with pytest.raises(ValueError, match="merge_schema"):
        w.append(spark.createDataFrame([(2, 20, "x")], "k long, v long, note string"))
    w.append(
        spark.createDataFrame([(2, 20, "x")], "k long, v long, note string"),
        merge_schema=True,
    )
    got = sorted((x.k, x.note) for x in r.to_df(spark).collect())
    assert got == [(1, None), (2, "x")]
    # the new field got a FRESH id past the old last-column-id
    meta = r._metadata()
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    assert [f["id"] for f in cur["fields"]] == [1, 2, 3]
    assert len(meta["schemas"]) == 2
    # time travel to the pre-evolution snapshot uses the OLD schema
    old_cols = [f.name for f in r.snapshot(sid1).schema.fields]
    assert old_cols == ["k", "v"]
    # a later plain append keeps the evolved schema (no regression)
    w.append(spark.createDataFrame([(3, 30, "y")], "k long, v long, note string"))
    meta2 = r._metadata()
    assert len(meta2["schemas"]) == 2
    assert sorted(x.k for x in r.to_df(spark).collect()) == [1, 2, 3]
    # equality deletes resolve ids against the CURRENT schema
    w.equality_delete(spark.createDataFrame([("x",)], "note string"))
    assert sorted(x.k for x in r.to_df(spark).collect()) == [1, 3]
    with pytest.raises(ValueError, match="type mismatch"):
        w.append(
            spark.createDataFrame([(9, 1.5, "z")], "k long, v double, note string"),
            merge_schema=True,
        )


def test_rollback_to_snapshot(spark, tmp_path):
    path = str(tmp_path / "rb")
    w = IcebergTableWriter(path)
    r = w.create(spark.createDataFrame([(1, 1)], "k long, v long"))
    sid1 = r.snapshot().snapshot_id
    w.append(spark.createDataFrame([(2, 2)], "k long, v long"))
    sid2 = r.snapshot().snapshot_id
    w.rollback_to(sid1)
    assert r.snapshot().snapshot_id == sid1
    assert sorted(x.k for x in r.to_df(spark).collect()) == [1]
    # the rolled-past snapshot stays reachable until expiry
    assert sorted(x.k for x in r.to_df(spark, snapshot_id=sid2).collect()) == [1, 2]
    # committing after a rollback forks from the restored state
    w.append(spark.createDataFrame([(3, 3)], "k long, v long"))
    assert sorted(x.k for x in r.to_df(spark).collect()) == [1, 3]
    with pytest.raises(ValueError, match="no snapshot"):
        w.rollback_to(999)


def test_post_rollback_commit_gets_fresh_snapshot_id(spark, tmp_path):
    """A commit after rollback_to must NOT reuse the rolled-past
    snapshot's id (it would shadow it in the snapshots map)."""
    path = str(tmp_path / "rbid")
    w = IcebergTableWriter(path)
    r = w.create(spark.createDataFrame([(1, 1)], "k long, v long"))
    sid1 = r.snapshot().snapshot_id
    w.append(spark.createDataFrame([(2, 2)], "k long, v long"))
    sid2 = r.snapshot().snapshot_id
    w.rollback_to(sid1)
    w.append(spark.createDataFrame([(3, 3)], "k long, v long"))
    sid3 = r.snapshot().snapshot_id
    assert len({sid1, sid2, sid3}) == 3
    # the rolled-past snapshot still resolves to ITS state
    assert sorted(x.k for x in r.to_df(spark, snapshot_id=sid2).collect()) == [1, 2]
    assert sorted(x.k for x in r.to_df(spark, snapshot_id=sid3).collect()) == [1, 3]


def test_merge_single_snapshot_upsert(spark, tmp_path):
    """MERGE commits ONE overwrite snapshot holding both the
    equality-delete manifest and the data manifest at the same sequence
    number; the reader's strictly-less gate makes the pair an atomic
    upsert (reference icberg/iceberg_tables.py:143-146 MERGE INTO)."""
    path = str(tmp_path / "im")
    w = IcebergTableWriter(path)
    r = w.create(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
            "k long, bucket string, v long",
        )
    )
    n_before = len(r.history())
    src = spark.createDataFrame(
        [(2, "b", 9999), (4, "c", 40)], "k long, bucket string, v long"
    )
    dels = spark.createDataFrame([(3,)], "k long")
    w.merge(src, keys=["k"], delete_keys=dels)
    assert _rows(spark, r) == [(1, "a", 10), (2, "b", 9999), (4, "c", 40)]
    hist = r.history()  # newest first
    assert len(hist) == n_before + 1  # exactly one snapshot for the MERGE
    assert hist[0]["operation"] == "overwrite"
    # prior snapshot still reads pre-merge rows (time travel intact)
    assert _rows(spark, r, snapshot_id=hist[-1]["snapshot_id"]) == [
        (1, "a", 10), (2, "b", 20), (3, "a", 30)
    ]


def test_merge_sequence_gate_chain(spark, tmp_path):
    """Each MERGE's delete applies only to earlier-sequence data files:
    a second MERGE updates the first MERGE's inserts, and the first
    MERGE's own inserts were never eaten by its own delete file."""
    path = str(tmp_path / "imc")
    w = IcebergTableWriter(path)
    r = w.create(
        spark.createDataFrame([(1, "a", 1)], "k long, bucket string, v long")
    )
    w.merge(
        spark.createDataFrame(
            [(1, "a", 2), (5, "e", 50)], "k long, bucket string, v long"
        ),
        keys=["k"],
    )
    assert _rows(spark, r) == [(1, "a", 2), (5, "e", 50)]
    w.merge(
        spark.createDataFrame(
            [(5, "e", 51)], "k long, bucket string, v long"
        ),
        keys=["k"],
    )
    assert _rows(spark, r) == [(1, "a", 2), (5, "e", 51)]
    # compact folds the delete files away and preserves the rows
    w.compact(spark)
    assert _rows(spark, r) == [(1, "a", 2), (5, "e", 51)]


def test_merge_schema_evolution_and_noop(spark, tmp_path):
    path = str(tmp_path / "ime")
    w = IcebergTableWriter(path)
    r = w.create(
        spark.createDataFrame([(1, "a", 1)], "k long, bucket string, v long")
    )
    src = spark.createDataFrame(
        [(2, "b", 2, "x")], "k long, bucket string, v long, note string"
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        w.merge(src, keys=["k"])
    w.merge(src, keys=["k"], merge_schema=True)
    got = sorted(
        (x["k"], x["note"]) for x in r.to_df(spark).collect()
    )
    assert got == [(1, None), (2, "x")]
    tip = r.snapshot().snapshot_id
    empty = spark.createDataFrame(
        [], "k long, bucket string, v long, note string"
    )
    assert w.merge(empty, keys=["k"]) == tip


I_ROW = st.tuples(
    st.integers(0, 50),
    st.sampled_from(["a", "b", "c"]),
    st.integers(-100, 100),
)
# an op is ("append", rows) | ("merge", key-unique rows): merge kills
# every earlier copy of each key (equality delete) and inserts the row
I_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.lists(I_ROW, min_size=1, max_size=3)),
        st.tuples(
            st.just("merge"),
            st.lists(I_ROW, min_size=1, max_size=3, unique_by=lambda r: r[0]),
        ),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(ops=I_OPS, compact_after=st.integers(0, 3))
def test_merge_append_sequences_match_list_model(
    spark, tmp_path_factory, ops, compact_after
):
    """Any append/merge sequence — with a compact() dropped at an
    arbitrary point — must read back as the same multiset of rows as a
    trivial list model: the sequence-number gate, equality-delete
    scoping, and compaction's delete-folding composed under sequence
    depth."""
    tmp = str(tmp_path_factory.mktemp("ice_prop") / "t")
    w = IcebergTableWriter(tmp)
    base = [(0, "a", 0), (1, "b", 1)]
    w.create(spark.createDataFrame(base, "k long, bucket string, v long"))
    model = list(base)
    r = IcebergTableReader(tmp)
    for i, op in enumerate(ops):
        rows = op[1]
        df = spark.createDataFrame(rows, "k long, bucket string, v long")
        if op[0] == "append":
            w.append(df)
            model.extend(rows)
        else:
            w.merge(df, keys=["k"])
            ks = {k for k, _, _ in rows}
            model = [x for x in model if x[0] not in ks] + rows
        if i == compact_after:
            w.compact(spark)
        assert _rows(spark, r) == sorted(model), f"after op {i} {op[0]}"


# ---------------------------------------------------------------------------
# Batch changelog read (create_changelog_view / SparkChangelogTable shape)
# ---------------------------------------------------------------------------


def _changelog(spark, path, **kw):
    return sorted(
        (
            r["_change_ordinal"],
            r["_commit_snapshot_id"],
            r["_change_type"],
            r["k"],
            r["bucket"],
            r["v"],
        )
        for r in IcebergTableReader(path).changes(spark, **kw).collect()
    )


def test_changelog_appends_and_copy_on_write_overwrite(spark, tmp_path):
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    w.create(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k long, bucket string, v long"
        ),
        partition_by=["bucket"],
    )                                                             # snap 1
    w.append(
        spark.createDataFrame([(3, None, 30)], "k long, bucket string, v long")
    )                                                             # snap 2
    w.overwrite_partition(
        spark.createDataFrame([(7, "a", 70)], "k long, bucket string, v long"),
        bucket="a",
    )                                                             # snap 3
    hist = IcebergTableReader(path).history()
    sids = [h["snapshot_id"] for h in sorted(hist, key=lambda h: h["sequence_number"])]
    got = _changelog(spark, path)
    assert [(o, t, k, b, v) for o, _s, t, k, b, v in got] == [
        (0, "insert", 1, "a", 10),
        (0, "insert", 2, "b", 20),
        (1, "insert", 3, None, 30),
        # copy-on-write overwrite: removed file's rows emit as delete,
        # the new file as insert — file-level, the changelog contract
        (2, "delete", 1, "a", 10),
        (2, "insert", 7, "a", 70),
    ]
    assert [s for _o, s, *_ in got] == [
        sids[0], sids[0], sids[1], sids[2], sids[2]
    ]
    # range slicing by snapshot id (inclusive)
    assert [
        (t, k) for _o, _s, t, k, _b, _v in _changelog(
            spark, path, start_snapshot_id=sids[1], end_snapshot_id=sids[1]
        )
    ] == [("insert", 3)]


def test_changelog_merge_on_read_deletes_and_replace_skip(spark, tmp_path):
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    w.create(
        spark.createDataFrame(
            [(k, "a" if k % 2 else "b", k * 10) for k in range(1, 7)],
            "k long, bucket string, v long",
        )
    )                                                             # snap 1
    w.delete_where(spark, "k <= 2")                               # snap 2 (pos)
    # second position-delete never re-emits the already-dead rows
    w.delete_where(spark, "k <= 4")                               # snap 3 (pos)
    w.equality_delete(
        spark.createDataFrame([(5,)], "k long"), ["k"]
    )                                                             # snap 4 (eq)
    # a row re-inserted AFTER the equality delete survives its seq gate
    w.append(
        spark.createDataFrame([(5, "a", 50)], "k long, bucket string, v long")
    )                                                             # snap 5
    w.compact(spark)                                              # snap 6 replace
    got = _changelog(spark, path)
    assert [(o, t, k, v) for o, _s, t, k, _b, v in got] == [
        (0, "insert", 1, 10),
        (0, "insert", 2, 20),
        (0, "insert", 3, 30),
        (0, "insert", 4, 40),
        (0, "insert", 5, 50),
        (0, "insert", 6, 60),
        (1, "delete", 1, 10),
        (1, "delete", 2, 20),
        (2, "delete", 3, 30),
        (2, "delete", 4, 40),
        (3, "delete", 5, 50),
        (4, "insert", 5, 50),
        # ordinal 5 (compact/replace): nothing — no logical change
    ]
    # the feed net-applied reproduces the live table
    live = sorted(
        (r["k"], r["v"])
        for r in IcebergTableReader(path).to_df(spark).collect()
    )
    assert live == [(5, 50), (6, 60)]


C_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.lists(I_ROW, min_size=1, max_size=3)),
        st.tuples(
            st.just("merge"),
            st.lists(I_ROW, min_size=1, max_size=3, unique_by=lambda r: r[0]),
        ),
        st.tuples(
            st.just("eqdel"),
            st.lists(st.integers(0, 50), min_size=1, max_size=2),
        ),
        st.tuples(
            st.just("posdel"),
            st.lists(st.integers(0, 50), min_size=1, max_size=3),
        ),
        st.tuples(
            st.just("overwrite"),
            st.sampled_from(["a", "b", "c"]),
            st.lists(I_ROW, max_size=2),
        ),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(ops=C_OPS, compact_after=st.integers(0, 3))
def test_changelog_replays_to_final_state(
    spark, tmp_path_factory, ops, compact_after
):
    """The changelog invariant: multiset-replaying changes() (subtract
    deletes, add inserts, ordinal by ordinal) reconstructs the final
    table for ANY append / merge / equality-delete / position-delete /
    copy-on-write-overwrite sequence with a compaction dropped at an
    arbitrary point — and no ordinal deletes a row the replayed state
    doesn't hold."""
    from collections import Counter

    tmp = str(tmp_path_factory.mktemp("ice_cl_prop") / "t")
    w = IcebergTableWriter(tmp)
    base = [(0, "a", 0), (1, "b", 1)]
    w.create(
        spark.createDataFrame(base, "k long, bucket string, v long"),
        partition_by=["bucket"],
    )
    for i, op in enumerate(ops):
        if op[0] == "append":
            w.append(
                spark.createDataFrame(op[1], "k long, bucket string, v long")
            )
        elif op[0] == "merge":
            w.merge(
                spark.createDataFrame(op[1], "k long, bucket string, v long"),
                keys=["k"],
            )
        elif op[0] == "eqdel":
            w.equality_delete(
                spark.createDataFrame([(k,) for k in op[1]], "k long"),
                ["k"],
            )
        elif op[0] == "posdel":
            w.delete_where(
                spark, f"k in ({','.join(str(k) for k in op[1])})"
            )
        else:
            bucket, rows = op[1], op[2]
            rows = [(k, bucket, v) for k, _, v in rows]
            w.overwrite_partition(
                spark.createDataFrame(rows, "k long, bucket string, v long"),
                bucket=bucket,
            )
        if i == compact_after:
            w.compact(spark)
    feed = IcebergTableReader(tmp).changes(spark).collect()
    state: Counter = Counter()
    for o in sorted({r["_change_ordinal"] for r in feed}):
        batch = [r for r in feed if r["_change_ordinal"] == o]
        for r in batch:
            if r["_change_type"] == "delete":
                state[(r["k"], r["bucket"], r["v"])] -= 1
        assert all(c >= 0 for c in state.values()), f"over-delete at o{o}"
        for r in batch:
            if r["_change_type"] == "insert":
                state[(r["k"], r["bucket"], r["v"])] += 1
    final = Counter(
        (x["k"], x["bucket"], x["v"])
        for x in IcebergTableReader(tmp).to_df(spark).collect()
    )
    assert {t: c for t, c in state.items() if c} == dict(final)


def test_timestamp_as_of_read(spark, tmp_path):
    """TIMESTAMP AS OF: to_df(timestamp_ms=...) resolves the latest
    snapshot at or before the timestamp via the snapshot log; earlier
    than the first snapshot is loud."""
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    w.create(spark.createDataFrame([(1, "a", 10)], "k long, bucket string, v long"))
    w.append(spark.createDataFrame([(2, "b", 20)], "k long, bucket string, v long"))
    r = IcebergTableReader(path)
    hist = sorted(r.history(), key=lambda h: h["sequence_number"])
    t1, t2 = hist[0]["timestamp_ms"], hist[1]["timestamp_ms"]
    assert sorted(
        x["k"] for x in r.to_df(spark, timestamp_ms=t1).collect()
    ) == [1]
    assert sorted(
        x["k"] for x in r.to_df(spark, timestamp_ms=t2 + 5).collect()
    ) == [1, 2]
    with pytest.raises(ValueError, match="no snapshot"):
        r.to_df(spark, timestamp_ms=t1 - 10_000)
    with pytest.raises(ValueError, match="not several"):
        r.to_df(spark, snapshot_id=hist[0]["snapshot_id"], timestamp_ms=t1)


def test_iceberg_stream_skip_snapshot_options(spark, tmp_path):
    """iceberg-spark's streaming read options: skip delete / overwrite
    snapshots instead of failing (their files never emit); replace
    (compaction) snapshots are always skipped silently upstream-style."""
    from aws_glue_data_lake_spark.icebergcompat import (
        register_iceberg_cdf_source,
    )

    register_iceberg_cdf_source(spark)
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    w.create(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k long, bucket string, v long"
        ),
        partition_by=["bucket"],
    )
    w.delete_where(spark, "k = 1")                    # delete snapshot
    w.overwrite_partition(
        spark.createDataFrame([(9, "a", 90)], "k long, bucket string, v long"),
        bucket="a",
    )                                                 # overwrite snapshot
    w.compact(spark)                                  # replace snapshot
    w.append(
        spark.createDataFrame([(3, None, 30)], "k long, bucket string, v long")
    )

    def drain(name, **opts):
        reader = spark.readStream.format("iceberg_cdf").option("path", path)
        for k, val in opts.items():
            reader = reader.option(k, val)
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="append-only"):
        drain("ice_skip_fail")
    # skipping only deletes still fails the overwrite
    with pytest.raises(StreamingQueryException, match="append-only"):
        drain("ice_skip_del", **{"streaming-skip-delete-snapshots": "true"})
    drain(
        "ice_skip_both",
        **{
            "streaming-skip-delete-snapshots": "true",
            "streaming-skip-overwrite-snapshots": "true",
        },
    )
    # only the appends' files: create + final append; the overwrite's
    # and compaction's files never emit
    assert sorted(
        (x["k"], x["bucket"]) for x in spark.sql(
            "SELECT * FROM ice_skip_both"
        ).collect()
    ) == [(1, "a"), (2, "b"), (3, None)]


def test_iceberg_stream_from_timestamp(spark, tmp_path):
    """stream-from-timestamp skips snapshots committed before it."""
    from aws_glue_data_lake_spark.icebergcompat import (
        register_iceberg_cdf_source,
    )

    register_iceberg_cdf_source(spark)
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    w.create(spark.createDataFrame([(1, "a", 10)], "k long, bucket string, v long"))
    w.append(spark.createDataFrame([(2, "b", 20)], "k long, bucket string, v long"))
    hist = sorted(
        IcebergTableReader(path).history(),
        key=lambda h: h["sequence_number"],
    )
    t2 = hist[1]["timestamp_ms"]
    q = (
        spark.readStream.format("iceberg_cdf")
        .option("path", path)
        .option("stream-from-timestamp", str(t2))
        .load()
        .writeStream.format("memory")
        .queryName("ice_sft")
        .option("checkpointLocation", str(tmp_path / "ckpt_sft"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(x["k"] for x in spark.sql("SELECT * FROM ice_sft").collect())
    # only snapshots at/after t2 emit; if both landed in the same ms the
    # first may ride along — assert the second is present and the set is
    # a suffix of the history
    assert got in ([2], [1, 2])


def test_changelog_plan_is_single_scan(spark, tmp_path):
    """The O(1)-plan property of the changelog, pinned: a many-snapshot
    append-only history plans as ONE parquet scan plus the broadcast
    ordinal map, not one scan per snapshot."""
    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    w.create(
        spark.createDataFrame([(0, "a", 0)], "k long, bucket string, v long")
    )
    for i in range(1, 13):
        w.append(
            spark.createDataFrame(
                [(i, "a", i)], "k long, bucket string, v long"
            )
        )
    feed = IcebergTableReader(path).changes(spark)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert feed.count() == 13


def test_min_sequence_number_reflects_carried_entries(spark, tmp_path):
    """A rewritten manifest carrying EXISTING entries must publish
    min_sequence_number = the OLDEST carried data sequence number, not the
    new snapshot's (ADVICE r7 finding 2): conforming readers prune which
    delete files apply with this bound, so overstating it would skip older
    equality deletes and resurrect deleted rows."""
    from aws_glue_data_lake_spark.avrolite import read_container

    path = str(tmp_path / "ice")
    w = IcebergTableWriter(path)
    # seq 1: data in partition b only (so the overwrite of a carries it)
    w.create(
        spark.createDataFrame(
            [(1, "b", 10), (2, "b", 20)], "k long, bucket string, v long"
        ),
        partition_by=["bucket"],
    )
    # seq 2: equality delete of k=2 (applies to seq-1 data, MoR)
    w.equality_delete(spark.createDataFrame([(2,)], "k long"))
    # seq 3: overwrite partition a — the rewrite carries partition b's
    # seq-1 entry as EXISTING in a manifest stamped with seq 3
    w.overwrite_partition(
        spark.createDataFrame([(9, "a", 90)], "k long, bucket string, v long"),
        bucket="a",
    )
    r = IcebergTableReader(path)
    import glob as g

    # newest snap-*.avro under metadata/ is the tip's manifest list
    ml_path = max(
        g.glob(os.path.join(path, "metadata", "snap-*.avro")),
        key=os.path.getmtime,
    )
    _, mfs, _ = read_container(ml_path)
    carried = [
        m for m in mfs
        if m.get("content", 0) == 0
        and m["sequence_number"] == 3
        and m["existing_data_files_count"] > 0
    ]
    assert carried, f"expected a carried data manifest at seq 3: {mfs}"
    for m in carried:
        assert m["min_sequence_number"] == 1, m
    # the seq-2 equality delete must still apply to the carried seq-1 data
    got = _rows(spark, r)
    assert got == [(1, "b", 10), (9, "a", 90)]
    # and the carried entry itself must hold its ORIGINAL data sequence
    _, entries, _ = read_container(carried[0]["manifest_path"])
    ex = [e for e in entries if e["status"] == 0]
    assert ex and all(e["sequence_number"] == 1 for e in ex)


def _mk_migrated_table(path, files, mapping, schema_fields, fmt="PARQUET"):
    """Hand-build a minimal v2 tree over pre-written parquet `files`
    ([(path, rows)]) with a name-mapping property — the migrated-table
    layout (files without parquet field IDs)."""
    import uuid as _uuid

    from aws_glue_data_lake_spark.icebergcompat import (
        _MANIFEST_LIST_SCHEMA,
        _STATUS_ADDED,
        _manifest_entry_schema,
        _partition_avro_fields,
    )

    meta_dir = os.path.join(path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    entries = [
        {
            "status": _STATUS_ADDED,
            "snapshot_id": 1,
            "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {
                "content": 0,
                "file_path": fp,
                "file_format": (
                    fmt[i] if isinstance(fmt, (list, tuple)) else fmt
                ),
                "partition": {},
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(fp),
                "equality_ids": None,
            },
        }
        for i, (fp, n) in enumerate(files)
    ]
    mschema = _manifest_entry_schema(_partition_avro_fields([]))
    mpath = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-m0.avro")
    write_container(mpath, mschema, entries, metadata={"format-version": "2"})
    ml_path = os.path.join(meta_dir, f"snap-1-{_uuid.uuid4().hex}.avro")
    write_container(
        ml_path,
        _MANIFEST_LIST_SCHEMA,
        [{
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": 1,
            "min_sequence_number": 1,
            "added_snapshot_id": 1,
            "added_data_files_count": len(entries),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": sum(n for _, n in files),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }],
        metadata={"format-version": "2"},
    )
    meta = {
        "format-version": 2,
        "table-uuid": str(_uuid.uuid4()),
        "location": path,
        "last-sequence-number": 1,
        "last-updated-ms": 0,
        "last-column-id": max(f["id"] for f in schema_fields),
        "current-schema-id": 0,
        "schemas": [{
            "type": "struct", "schema-id": 0, "fields": schema_fields,
        }],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 1,
        "snapshots": [{
            "snapshot-id": 1,
            "sequence-number": 1,
            "timestamp-ms": 0,
            "manifest-list": ml_path,
            "schema-id": 0,
            "summary": {"operation": "append"},
        }],
        "snapshot-log": [{"snapshot-id": 1, "timestamp-ms": 0}],
        "metadata-log": [],
        "properties": (
            {"schema.name-mapping.default": json.dumps(mapping)}
            if mapping else {}
        ),
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")


def test_name_mapping_reads_renamed_migrated_columns(spark, tmp_path):
    """schema.name-mapping.default (spec § Column Projection): a migrated
    table whose pre-rename files carry the OLD column name (and no field
    IDs) must read under the CURRENT schema name — one scan, coalescing
    the mapped alternates — while post-rename files keep working."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "mig")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    old = os.path.join(data_dir, "old.parquet")
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()),
                  "v_old": pa.array([10, 20], pa.int64())}),
        old,
    )
    new = os.path.join(data_dir, "new.parquet")
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int64()),
                  "v_new": pa.array([30], pa.int64())}),
        new,
    )
    _mk_migrated_table(
        path,
        [(old, 2), (new, 1)],
        mapping=[
            {"field-id": 1, "names": ["k"]},
            {"field-id": 2, "names": ["v_old", "v_new"]},
        ],
        schema_fields=[
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "v_new", "required": False, "type": "long"},
        ],
    )
    r = IcebergTableReader(path)
    snap = r.snapshot()
    assert snap.alt_names == {"v_new": ["v_old"]}
    got = sorted(
        (x["k"], x["v_new"]) for x in r.to_df(spark).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    # single scan: the mapping must not fan out into per-file plans
    plan = r.to_df(spark)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_name_mapping_nested_rename_fails_loudly(spark, tmp_path):
    """A nested rename can't be honored by a name-resolved scan — it must
    raise, not read silent nulls."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "mignest")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    fp = os.path.join(data_dir, "f.parquet")
    pq.write_table(
        pa.table({"s": pa.array([{"a_old": 1}],
                                pa.struct([("a_old", pa.int64())]))}),
        fp,
    )
    _mk_migrated_table(
        path,
        [(fp, 1)],
        mapping=[
            {
                "field-id": 1,
                "names": ["s"],
                "fields": [{"field-id": 2, "names": ["a_old"]}],
            },
        ],
        schema_fields=[
            {
                "id": 1, "name": "s", "required": False,
                "type": {
                    "type": "struct",
                    "fields": [
                        {"id": 2, "name": "a_new", "required": False,
                         "type": "long"},
                    ],
                },
            },
        ],
    )
    with pytest.raises(IcebergProtocolError, match="NESTED"):
        IcebergTableReader(path).snapshot()


def test_field_id_resolution_reads_renamed_columns(spark, tmp_path):
    """Conforming writers resolve columns by FIELD ID, not name: after
    ALTER TABLE RENAME the data files still carry the OLD column name
    with the same field id. A name-resolving scan would return silent
    nulls; the fieldId read path must return the real values — for data
    files AND for equality-delete files written pre-rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ids")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)

    def idfield(name, typ, fid):
        return pa.field(name, typ, metadata={b"PARQUET:field_id": str(fid).encode()})

    # data file written BEFORE the rename: old name 'v_old', field id 2
    fp = os.path.join(data_dir, "pre.parquet")
    pq.write_table(
        pa.table(
            [pa.array([1, 2, 3], pa.int64()), pa.array([10, 20, 30], pa.int64())],
            schema=pa.schema([idfield("k", pa.int64(), 1),
                              idfield("v_old", pa.int64(), 2)]),
        ),
        fp,
    )
    # equality-delete file also written pre-rename (old name, id 2):
    # deletes rows where v (id 2) == 20
    ed = os.path.join(data_dir, "eqdel.parquet")
    pq.write_table(
        pa.table(
            [pa.array([20], pa.int64())],
            schema=pa.schema([idfield("v_old", pa.int64(), 2)]),
        ),
        ed,
    )
    # current schema names field 2 'v_new' (the rename); NO name mapping
    import uuid as _uuid

    from aws_glue_data_lake_spark.avrolite import write_container
    from aws_glue_data_lake_spark.icebergcompat import (
        _MANIFEST_LIST_SCHEMA,
        _STATUS_ADDED,
        _manifest_entry_schema,
        _partition_avro_fields,
    )

    meta_dir = os.path.join(path, "metadata")
    os.makedirs(meta_dir)
    entries = [
        {
            "status": _STATUS_ADDED, "snapshot_id": 1,
            "sequence_number": 1, "file_sequence_number": 1,
            "data_file": {
                "content": 0, "file_path": fp, "file_format": "PARQUET",
                "partition": {}, "record_count": 3,
                "file_size_in_bytes": os.path.getsize(fp),
                "equality_ids": None,
            },
        },
        {
            "status": _STATUS_ADDED, "snapshot_id": 1,
            "sequence_number": 2, "file_sequence_number": 2,
            "data_file": {
                "content": 2, "file_path": ed, "file_format": "PARQUET",
                "partition": {}, "record_count": 1,
                "file_size_in_bytes": os.path.getsize(ed),
                "equality_ids": [2],
            },
        },
    ]
    mschema = _manifest_entry_schema(_partition_avro_fields([]))
    mpath = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-m0.avro")
    write_container(mpath, mschema, entries, metadata={"format-version": "2"})
    ml_path = os.path.join(meta_dir, f"snap-1-{_uuid.uuid4().hex}.avro")
    write_container(
        ml_path, _MANIFEST_LIST_SCHEMA,
        [{
            "manifest_path": mpath, "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0, "content": 0,
            "sequence_number": 2, "min_sequence_number": 1,
            "added_snapshot_id": 1,
            "added_data_files_count": 1, "existing_data_files_count": 0,
            "deleted_data_files_count": 0, "added_rows_count": 3,
            "existing_rows_count": 0, "deleted_rows_count": 0,
        }],
        metadata={"format-version": "2"},
    )
    meta = {
        "format-version": 2, "table-uuid": str(_uuid.uuid4()),
        "location": path, "last-sequence-number": 2,
        "last-updated-ms": 0, "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{
            "type": "struct", "schema-id": 0, "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "v_new", "required": False,
                 "type": "long"},
            ],
        }],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 1,
        "snapshots": [{
            "snapshot-id": 1, "sequence-number": 2, "timestamp-ms": 0,
            "manifest-list": ml_path, "schema-id": 0,
            "summary": {"operation": "append"},
        }],
        "snapshot-log": [{"snapshot-id": 1, "timestamp-ms": 0}],
        "metadata-log": [], "properties": {},
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")

    r = IcebergTableReader(path)
    got = sorted(
        (x["k"], x["v_new"]) for x in r.to_df(spark).collect()
    )
    # k=2 equality-deleted (by id-resolved v_old==20); values NOT null
    assert got == [(1, 10), (3, 30)]


def test_own_written_tables_keep_name_resolution(spark, tmp_path):
    """This engine's own staged files carry no parquet field IDs; the
    footer sweep must route them down the unchanged name path."""
    from aws_glue_data_lake_spark.fieldids import parquet_field_id_mappings

    path = str(tmp_path / "own")
    w = IcebergTableWriter(path)
    w.create(spark.createDataFrame([(1, "a", 10)],
                                   "k long, bucket string, v long"))
    r = IcebergTableReader(path)
    snap = r.snapshot()
    maps = parquet_field_id_mappings([p for p, _ in snap.files])
    assert all(not m for m in maps.values())
    assert _rows(spark, r) == [(1, "a", 10)]


def test_mixed_table_resolves_per_file(spark, tmp_path):
    """A MIXED table — one file without parquet field IDs (this
    engine's own staging), one foreign file WITH IDs under a pre-rename
    physical name, no name mapping — must resolve per file: the ID file
    by field ID, the plain file by name. A single table-wide resolution
    mode (decided from the first file, as the pre-r9 sniff did) returns
    silent nulls for the renamed column in whichever file lost."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_glue_data_lake_spark.avrolite import write_container
    from aws_glue_data_lake_spark.icebergcompat import (
        _MANIFEST_LIST_SCHEMA,
        _STATUS_ADDED,
        _manifest_entry_schema,
        _partition_avro_fields,
    )

    path = str(tmp_path / "mixed")
    data_dir = os.path.join(path, "data")
    meta_dir = os.path.join(path, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)

    # file A: NO field ids, current names (sorts FIRST in the manifest)
    fa = os.path.join(data_dir, "a-plain.parquet")
    pq.write_table(
        pa.table(
            [pa.array([1, 2], pa.int64()), pa.array([10, 20], pa.int64())],
            schema=pa.schema([pa.field("k", pa.int64()),
                              pa.field("v_new", pa.int64())]),
        ),
        fa,
    )
    # file B: field ids 1/2 under the PRE-RENAME physical name 'v_old'
    fb = os.path.join(data_dir, "b-ids.parquet")
    pq.write_table(
        pa.table(
            [pa.array([3, 4], pa.int64()), pa.array([30, 40], pa.int64())],
            schema=pa.schema([
                pa.field("k", pa.int64(),
                         metadata={b"PARQUET:field_id": b"1"}),
                pa.field("v_old", pa.int64(),
                         metadata={b"PARQUET:field_id": b"2"}),
            ]),
        ),
        fb,
    )

    def entry(fp, n, seq):
        return {
            "status": _STATUS_ADDED, "snapshot_id": 1,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": 0, "file_path": fp, "file_format": "PARQUET",
                "partition": {}, "record_count": n,
                "file_size_in_bytes": os.path.getsize(fp),
                "equality_ids": None,
            },
        }

    mschema = _manifest_entry_schema(_partition_avro_fields([]))
    mpath = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-m0.avro")
    write_container(mpath, mschema, [entry(fa, 2, 1), entry(fb, 2, 2)],
                    metadata={"format-version": "2"})
    ml_path = os.path.join(meta_dir, f"snap-1-{_uuid.uuid4().hex}.avro")
    write_container(
        ml_path, _MANIFEST_LIST_SCHEMA,
        [{
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0, "content": 0,
            "sequence_number": 2, "min_sequence_number": 1,
            "added_snapshot_id": 1,
            "added_data_files_count": 2, "existing_data_files_count": 0,
            "deleted_data_files_count": 0, "added_rows_count": 4,
            "existing_rows_count": 0, "deleted_rows_count": 0,
        }],
        metadata={"format-version": "2"},
    )
    meta = {
        "format-version": 2, "table-uuid": str(_uuid.uuid4()),
        "location": path, "last-sequence-number": 2,
        "last-updated-ms": 0, "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{
            "type": "struct", "schema-id": 0, "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "v_new", "required": False,
                 "type": "long"},
            ],
        }],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 1,
        "snapshots": [{
            "snapshot-id": 1, "sequence-number": 2, "timestamp-ms": 0,
            "manifest-list": ml_path, "schema-id": 0,
            "summary": {"operation": "append"},
        }],
        "snapshot-log": [{"snapshot-id": 1, "timestamp-ms": 0}],
        "metadata-log": [], "properties": {},
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")

    got = sorted(
        (x["k"], x["v_new"])
        for x in IcebergTableReader(path).to_df(spark).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30), (4, 40)]


def test_orc_data_files_read_and_mix_with_parquet(spark, tmp_path):
    """The spec allows per-file formats: an ORC-written (or
    mixed-migration) table must read as one scan per format unioned —
    and position deletes over ORC files must gate loudly (Spark has no
    _metadata.row_index for ORC)."""
    path = str(tmp_path / "orc")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    # ORC file via Spark's native writer
    import glob as g
    import shutil

    stage = str(tmp_path / "stage_orc")
    spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").coalesce(
        1
    ).write.mode("overwrite").orc(stage)
    (src,) = g.glob(os.path.join(stage, "part-*.orc"))
    orc_fp = os.path.join(data_dir, "a.orc")
    shutil.move(src, orc_fp)
    # parquet file alongside
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq_fp = os.path.join(data_dir, "b.parquet")
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int64()),
                  "v": pa.array([30], pa.int64())}), pq_fp)
    schema_fields = [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]
    _mk_migrated_table(path, [(orc_fp, 2)], mapping=None,
                       schema_fields=schema_fields, fmt="ORC")
    r = IcebergTableReader(path)
    got = sorted((x["k"], x["v"]) for x in r.to_df(spark).collect())
    assert got == [(1, 10), (2, 20)]
    # mixed-format table: one ORC + one parquet entry in one manifest —
    # must plan as one scan PER FORMAT unioned and return all rows
    path2 = str(tmp_path / "mixed")
    os.makedirs(os.path.join(path2, "data"))
    orc2 = os.path.join(path2, "data", "a.orc")
    pq2 = os.path.join(path2, "data", "b.parquet")
    shutil.copy(orc_fp, orc2)
    shutil.copy(pq_fp, pq2)
    _mk_migrated_table(path2, [(orc2, 2), (pq2, 1)], mapping=None,
                       schema_fields=schema_fields, fmt=["ORC", "PARQUET"])
    r2 = IcebergTableReader(path2)
    got2 = sorted((x["k"], x["v"]) for x in r2.to_df(spark).collect())
    assert got2 == [(1, 10), (2, 20), (3, 30)]
    plan = r2.to_df(spark)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan orc") == 1 and plan.count("Scan parquet") == 1
    snap = r2.snapshot()
    assert snap.file_formats[os.path.abspath(orc2)] == "ORC"
    assert snap.file_formats[os.path.abspath(pq2)] == "PARQUET"


def test_position_deletes_over_orc_apply(spark, tmp_path):
    """Position deletes referencing ORC data rows apply through the
    positional (pyarrow) scan path — row position = record order, the
    spec's definition (r8 gated this loudly; Spark's native ORC scan
    has no _metadata.row_index)."""
    import glob as g
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "orcdel")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    stage = str(tmp_path / "stage_orcdel")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).coalesce(1).sortWithinPartitions("k").write.mode(
        "overwrite"
    ).orc(stage)
    (src,) = g.glob(os.path.join(stage, "part-*.orc"))
    orc_fp = os.path.join(data_dir, "a.orc")
    shutil.move(src, orc_fp)
    schema_fields = [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]
    _mk_migrated_table(path, [(orc_fp, 2)], mapping=None,
                       schema_fields=schema_fields, fmt="ORC")
    # hand-register a position-delete parquet against the ORC file by
    # appending a delete manifest to the tree
    import uuid as _uuid

    from aws_glue_data_lake_spark.icebergcompat import (
        _MANIFEST_LIST_SCHEMA,
        _STATUS_ADDED,
        _manifest_entry_schema,
        _partition_avro_fields,
    )

    pd = os.path.join(data_dir, "posdel.parquet")
    pq.write_table(pa.table({
        "file_path": pa.array([orc_fp], pa.string()),
        "pos": pa.array([0], pa.int64()),
    }), pd)
    meta_dir = os.path.join(path, "metadata")
    mschema = _manifest_entry_schema(_partition_avro_fields([]))
    m2 = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-m1.avro")
    write_container(m2, mschema, [{
        "status": _STATUS_ADDED, "snapshot_id": 1,
        "sequence_number": 2, "file_sequence_number": 2,
        "data_file": {
            "content": 1, "file_path": pd, "file_format": "PARQUET",
            "partition": {}, "record_count": 1,
            "file_size_in_bytes": os.path.getsize(pd),
            "equality_ids": None,
        },
    }], metadata={"format-version": "2"})
    mpath = json.load(open(os.path.join(meta_dir, "v1.metadata.json")))
    ml = mpath["snapshots"][0]["manifest-list"]
    _, mfs, _ = read_container(ml)
    mfs.append({
        "manifest_path": m2, "manifest_length": os.path.getsize(m2),
        "partition_spec_id": 0, "content": 1,
        "sequence_number": 2, "min_sequence_number": 2,
        "added_snapshot_id": 1,
        "added_data_files_count": 1, "existing_data_files_count": 0,
        "deleted_data_files_count": 0, "added_rows_count": 1,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    })
    from aws_glue_data_lake_spark.icebergcompat import _MANIFEST_LIST_SCHEMA as MLS
    write_container(ml, MLS, mfs, metadata={"format-version": "2"})
    got = sorted(
        (x["k"], x["v"])
        for x in IcebergTableReader(path).to_df(spark).collect()
    )
    assert got == [(2, 20)]  # position 0 (k=1) tombstoned


def test_avro_data_files_read_and_mix_with_parquet(spark, tmp_path):
    """content=0 AVRO data files (the spec's third data format) scan
    through the avrolite positional reader and union with parquet
    files; schema-evolution NULL backfill applies to missing fields
    (r8 gated AVRO data loudly)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "avro")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    av = os.path.join(data_dir, "a.avro")
    write_container(
        av,
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "k", "type": ["null", "long"], "default": None},
                {"name": "v", "type": ["null", "long"], "default": None},
            ],
        },
        [{"k": 1, "v": 10}, {"k": 2, "v": None}],
    )
    pq_fp = os.path.join(data_dir, "b.parquet")
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int64()),
                  "v": pa.array([30], pa.int64())}), pq_fp)
    schema_fields = [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]
    _mk_migrated_table(path, [(av, 2), (pq_fp, 1)], mapping=None,
                       schema_fields=schema_fields,
                       fmt=["AVRO", "PARQUET"])
    r = IcebergTableReader(path)
    got = sorted(
        (x["k"], x["v"]) for x in r.to_df(spark).collect()
    )
    assert got == [(1, 10), (2, None), (3, 30)]
    # position deletes apply to Avro rows too (record order = position)
    import uuid as _uuid

    from aws_glue_data_lake_spark.icebergcompat import (
        _MANIFEST_LIST_SCHEMA as MLS,
    )
    from aws_glue_data_lake_spark.icebergcompat import (
        _STATUS_ADDED,
        _manifest_entry_schema,
        _partition_avro_fields,
    )

    pd_fp = os.path.join(data_dir, "posdel.parquet")
    pq.write_table(pa.table({
        "file_path": pa.array([av], pa.string()),
        "pos": pa.array([0], pa.int64()),
    }), pd_fp)
    meta_dir = os.path.join(path, "metadata")
    mschema = _manifest_entry_schema(_partition_avro_fields([]))
    m2 = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-m1.avro")
    write_container(m2, mschema, [{
        "status": _STATUS_ADDED, "snapshot_id": 1,
        "sequence_number": 2, "file_sequence_number": 2,
        "data_file": {
            "content": 1, "file_path": pd_fp, "file_format": "PARQUET",
            "partition": {}, "record_count": 1,
            "file_size_in_bytes": os.path.getsize(pd_fp),
            "equality_ids": None,
        },
    }], metadata={"format-version": "2"})
    meta = json.load(open(os.path.join(meta_dir, "v1.metadata.json")))
    ml = meta["snapshots"][0]["manifest-list"]
    _, mfs, _ = read_container(ml)
    mfs.append({
        "manifest_path": m2, "manifest_length": os.path.getsize(m2),
        "partition_spec_id": 0, "content": 1,
        "sequence_number": 2, "min_sequence_number": 2,
        "added_snapshot_id": 1,
        "added_data_files_count": 1, "existing_data_files_count": 0,
        "deleted_data_files_count": 0, "added_rows_count": 1,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    })
    write_container(ml, MLS, mfs, metadata={"format-version": "2"})
    got2 = sorted(
        (x["k"], x["v"])
        for x in IcebergTableReader(path).to_df(spark).collect()
    )
    assert got2 == [(2, None), (3, 30)]  # avro position 0 tombstoned


def test_format_version_3_reads_when_no_v3_features(spark, tmp_path):
    """A format-version-3 table using no v3-only features is structurally
    v2 and must read; v3 deletion vectors (puffin refs) and column
    initial-defaults gate loudly instead of misreading."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "v3")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    fp = os.path.join(data_dir, "a.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64()),
                             "v": pa.array([10, 20], pa.int64())}), fp)
    schema_fields = [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]
    _mk_migrated_table(path, [(fp, 2)], mapping=None,
                       schema_fields=schema_fields)
    mp = os.path.join(path, "metadata", "v1.metadata.json")
    meta = json.load(open(mp))
    meta["format-version"] = 3
    meta["next-row-id"] = 100  # v3 row-lineage bookkeeping: scan-inert
    json.dump(meta, open(mp, "w"))
    r = IcebergTableReader(path)
    got = sorted((x["k"], x["v"]) for x in r.to_df(spark).collect())
    assert got == [(1, 10), (2, 20)]

    # initial-default on a column -> loud gate
    meta["schemas"][0]["fields"].append(
        {"id": 3, "name": "w", "required": False, "type": "long",
         "initial-default": 7}
    )
    json.dump(meta, open(mp, "w"))
    # the data file carries NO field ids, so per-file column absence is
    # unprovable: the default cannot be applied safely -> loud gate at
    # scan-plan time (ID-stamped files APPLY the default instead:
    # test_v3_initial_default_applies_per_file)
    with pytest.raises(IcebergProtocolError, match="initial-default"):
        IcebergTableReader(path).to_df(spark)

    # deletion-vector fields on a DATA entry (content=0) -> loud gate
    # (real v3 DVs on content=1 entries are READ:
    # test_v3_puffin_deletion_vectors_read)
    meta["schemas"][0]["fields"].pop()
    json.dump(meta, open(mp, "w"))
    ml = meta["snapshots"][0]["manifest-list"]
    _, mfs, _ = read_container(ml)
    mpath = mfs[0]["manifest_path"]
    msch, entries, mmeta = read_container(mpath)
    # extend the entry schema with the v3 DV fields and re-write
    msch["fields"][-1]["type"]["fields"] += [
        {"name": "referenced_data_file", "type": ["null", "string"],
         "default": None, "field-id": 143},
        {"name": "content_offset", "type": ["null", "long"],
         "default": None, "field-id": 144},
    ]
    for e in entries:
        e["data_file"]["referenced_data_file"] = fp
        e["data_file"]["content_offset"] = 4
    write_container(mpath, msch, entries, metadata={
        k: (v.decode() if isinstance(v, bytes) else v)
        for k, v in mmeta.items()
        if not k.startswith("avro.")  # keep the WIDENED schema in charge
    })
    with pytest.raises(IcebergProtocolError, match="deletion-"):
        IcebergTableReader(path).snapshot()


def test_v3_puffin_deletion_vectors_read(spark, tmp_path):
    """format-version 3 deletion vectors: a content=1 manifest entry with
    referenced_data_file + content_offset locates a roaring blob inside a
    puffin file (framing identical to Delta's: BE length, LE magic,
    64-bit roaring portable, BE CRC). The scan must drop exactly the
    tombstoned positions, and the changelog must emit them as deletes."""
    import struct
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_glue_data_lake_spark.roaring64 import serialize_positions

    path = str(tmp_path / "v3dv")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    fp = os.path.join(data_dir, "a.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2, 3, 4], pa.int64()),
                             "v": pa.array([10, 20, 30, 40], pa.int64())}),
                   fp)
    # puffin file: PFA1 magic, then the framed blob at offset 4
    blob = serialize_positions([1, 3])  # kill k=2 and k=4
    framed = (struct.pack(">i", len(blob)) + blob
              + struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
    puf = os.path.join(data_dir, "dv.puffin")
    with open(puf, "wb") as f:
        f.write(b"PFA1" + framed + b"PFA1")
    schema_fields = [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]
    _mk_migrated_table(path, [(fp, 4)], mapping=None,
                       schema_fields=schema_fields)
    mp = os.path.join(path, "metadata", "v1.metadata.json")
    meta = json.load(open(mp))
    meta["format-version"] = 3
    # second snapshot carrying the DV manifest
    import uuid as _uuid

    from aws_glue_data_lake_spark.icebergcompat import (
        _MANIFEST_LIST_SCHEMA,
        _STATUS_ADDED,
        _manifest_entry_schema,
        _partition_avro_fields,
    )

    meta_dir = os.path.join(path, "metadata")
    msch = _manifest_entry_schema(_partition_avro_fields([]))
    msch["fields"][-1]["type"]["fields"] += [
        {"name": "referenced_data_file", "type": ["null", "string"],
         "default": None, "field-id": 143},
        {"name": "content_offset", "type": ["null", "long"],
         "default": None, "field-id": 144},
        {"name": "content_size_in_bytes", "type": ["null", "long"],
         "default": None, "field-id": 145},
    ]
    m2 = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-m1.avro")
    write_container(m2, msch, [{
        "status": _STATUS_ADDED, "snapshot_id": 2,
        "sequence_number": 2, "file_sequence_number": 2,
        "data_file": {
            "content": 1, "file_path": puf, "file_format": "PUFFIN",
            "partition": {}, "record_count": 2,
            "file_size_in_bytes": os.path.getsize(puf),
            "equality_ids": None,
            "referenced_data_file": fp,
            "content_offset": 4,
            "content_size_in_bytes": len(blob) + 8,
        },
    }], metadata={"format-version": "2"})
    ml1 = meta["snapshots"][0]["manifest-list"]
    _, mfs, _ = read_container(ml1)
    ml2 = os.path.join(meta_dir, f"snap-2-{_uuid.uuid4().hex}.avro")
    write_container(ml2, _MANIFEST_LIST_SCHEMA, mfs + [{
        "manifest_path": m2, "manifest_length": os.path.getsize(m2),
        "partition_spec_id": 0, "content": 1,
        "sequence_number": 2, "min_sequence_number": 2,
        "added_snapshot_id": 2,
        "added_data_files_count": 1, "existing_data_files_count": 0,
        "deleted_data_files_count": 0, "added_rows_count": 2,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }], metadata={"format-version": "2"})
    meta["snapshots"].append({
        "snapshot-id": 2, "sequence-number": 2, "timestamp-ms": 1,
        "manifest-list": ml2, "schema-id": 0,
        "summary": {"operation": "delete"},
    })
    meta["snapshot-log"].append({"snapshot-id": 2, "timestamp-ms": 1})
    meta["current-snapshot-id"] = 2
    meta["last-sequence-number"] = 2
    json.dump(meta, open(mp, "w"))

    r = IcebergTableReader(path)
    got = sorted((x["k"], x["v"]) for x in r.to_df(spark).collect())
    assert got == [(1, 10), (3, 30)]
    # snapshot 1 (pre-DV) still reads everything
    s1 = sorted(x["k"] for x in r.to_df(spark, snapshot_id=1).collect())
    assert s1 == [1, 2, 3, 4]
    # changelog: the DV snapshot emits exactly the newly-dead rows
    feed = r.changes(spark)
    dels = sorted(
        x["k"] for x in feed.where("_change_type = 'delete'").collect()
    )
    assert dels == [2, 4]
    ins = sorted(
        x["k"] for x in feed.where("_change_type = 'insert'").collect()
    )
    assert ins == [1, 2, 3, 4]


def test_v3_initial_default_applies_per_file(spark, tmp_path):
    """v3 initial-defaults (spec § Default values): a file written
    BEFORE the column existed reads the default; a file that CONTAINS
    the column keeps its values — including an explicit NULL, which
    must never be replaced. Absence is proven per file by the parquet
    footer field-id mapping."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "v3def")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)

    def idfield(name, typ, fid):
        return pa.field(
            name, typ, metadata={b"PARQUET:field_id": str(fid).encode()}
        )

    # file A predates column w (id 3)
    fa = os.path.join(data_dir, "a.parquet")
    pq.write_table(
        pa.table(
            [pa.array([1, 2], pa.int64()), pa.array([10, 20], pa.int64())],
            schema=pa.schema([idfield("k", pa.int64(), 1),
                              idfield("v", pa.int64(), 2)]),
        ),
        fa,
    )
    # file B has w, with one explicit NULL
    fb = os.path.join(data_dir, "b.parquet")
    pq.write_table(
        pa.table(
            [pa.array([3, 4], pa.int64()), pa.array([30, 40], pa.int64()),
             pa.array([77, None], pa.int64())],
            schema=pa.schema([idfield("k", pa.int64(), 1),
                              idfield("v", pa.int64(), 2),
                              idfield("w", pa.int64(), 3)]),
        ),
        fb,
    )
    schema_fields = [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
        {"id": 3, "name": "w", "required": False, "type": "long",
         "initial-default": 7, "write-default": 7},
    ]
    _mk_migrated_table(path, [(fa, 2), (fb, 2)], mapping=None,
                       schema_fields=schema_fields)
    mp = os.path.join(path, "metadata", "v1.metadata.json")
    meta = json.load(open(mp))
    meta["format-version"] = 3
    json.dump(meta, open(mp, "w"))
    got = sorted(
        (x["k"], x["v"], x["w"])
        for x in IcebergTableReader(path).to_df(spark).collect()
    )
    assert got == [(1, 10, 7), (2, 20, 7), (3, 30, 77), (4, 40, None)]


def test_v3_delete_where_writes_puffin_dvs(spark, tmp_path):
    """format-version 3 DELETE writes puffin DELETION VECTORS (spec: v3
    writers must use DVs, not loose position-delete files): one
    deletion-vector-v1 blob per touched data file, content_offset /
    content_size_in_bytes locating the TOTAL stored blob; a second
    DELETE unions into the existing DV and supersedes its entry
    (at-most-one-DV-per-file invariant); own reader round-trips."""
    import glob as g
    import struct as _struct

    path = str(tmp_path / "v3w")
    w = IcebergTableWriter(path)
    r = w.create(
        spark.createDataFrame(
            [(k, k * 10) for k in range(8)], "k long, v long"
        ).coalesce(1),
        format_version=3,
    )
    meta = r._metadata()
    assert meta["format-version"] == 3 and "next-row-id" in meta

    w.delete_where(spark, "k IN (1, 3)")
    got = sorted(x["k"] for x in r.to_df(spark).collect())
    assert got == [0, 2, 4, 5, 6, 7]
    # the DV landed as a puffin file with the spec framing
    (puf,) = g.glob(os.path.join(path, "data", "*-dv.puffin"))
    blob = open(puf, "rb").read()
    assert blob[:4] == b"PFA1" and blob[-4:] == b"PFA1"
    snap = r.snapshot()
    assert len(snap.dv_deletes) == 1
    _, ref, off, size = snap.dv_deletes[0]
    (inner,) = _struct.unpack(">i", blob[off:off + 4])
    assert size == inner + 8  # total-blob semantics (len word + CRC)
    assert not snap.delete_files  # no loose v2 position-delete files

    # second delete on the same file: union + supersede, still ONE live DV
    w.delete_where(spark, "k = 5")
    snap2 = IcebergTableReader(path).snapshot()
    assert len(snap2.dv_deletes) == 1
    got2 = sorted(x["k"] for x in IcebergTableReader(path).to_df(spark).collect())
    assert got2 == [0, 2, 4, 6, 7]
    # time travel to the first delete still sees k=5
    hist = IcebergTableReader(path).history()
    prev_sid = hist[1]["snapshot_id"]
    old = sorted(
        x["k"]
        for x in IcebergTableReader(path)
        .to_df(spark, snapshot_id=prev_sid)
        .collect()
    )
    assert old == [0, 2, 4, 5, 6, 7]
    # metadata stayed v3 across commits
    assert IcebergTableReader(path)._metadata()["format-version"] == 3


def test_avro_delete_files_apply(spark, tmp_path):
    """Delete files can be Avro too (spec: per-file formats apply to
    delete files): an Avro position-delete and an Avro equality-delete
    both apply; an eq-delete missing its equality field fails loudly
    instead of deleting NULL-keyed rows."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_glue_data_lake_spark.icebergcompat import (
        _MANIFEST_LIST_SCHEMA as MLS,
    )
    from aws_glue_data_lake_spark.icebergcompat import (
        _STATUS_ADDED,
        _manifest_entry_schema,
        _partition_avro_fields,
    )

    path = str(tmp_path / "avrodel")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    fp = os.path.join(data_dir, "a.parquet")
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3, 4], pa.int64()),
                  "v": pa.array([10, 20, 30, 40], pa.int64())}), fp)
    schema_fields = [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]
    _mk_migrated_table(path, [(fp, 4)], mapping=None,
                       schema_fields=schema_fields)
    # avro POSITION delete: kills position 0 (k=1)
    pd_av = os.path.join(data_dir, "posdel.avro")
    write_container(
        pd_av,
        {"type": "record", "name": "pd", "fields": [
            {"name": "file_path", "type": ["null", "string"],
             "default": None},
            {"name": "pos", "type": ["null", "long"], "default": None},
        ]},
        [{"file_path": fp, "pos": 0}],
    )
    # avro EQUALITY delete on k: kills k=3
    ed_av = os.path.join(data_dir, "eqdel.avro")
    write_container(
        ed_av,
        {"type": "record", "name": "ed", "fields": [
            {"name": "k", "type": ["null", "long"], "default": None},
        ]},
        [{"k": 3}],
    )
    meta_dir = os.path.join(path, "metadata")
    mschema = _manifest_entry_schema(_partition_avro_fields([]))

    def del_entry(p2, content, eq=None, seq=2):
        return {
            "status": _STATUS_ADDED, "snapshot_id": 1,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": content, "file_path": p2,
                "file_format": "AVRO", "partition": {},
                "record_count": 1,
                "file_size_in_bytes": os.path.getsize(p2),
                "equality_ids": eq,
            },
        }

    m2 = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-dels.avro")
    write_container(m2, mschema, [
        del_entry(pd_av, 1),
        del_entry(ed_av, 2, eq=[1]),
    ], metadata={"format-version": "2"})
    meta = json.load(open(os.path.join(meta_dir, "v1.metadata.json")))
    ml = meta["snapshots"][0]["manifest-list"]
    _, mfs, _ = read_container(ml)
    mfs.append({
        "manifest_path": m2, "manifest_length": os.path.getsize(m2),
        "partition_spec_id": 0, "content": 1,
        "sequence_number": 2, "min_sequence_number": 2,
        "added_snapshot_id": 1,
        "added_data_files_count": 2, "existing_data_files_count": 0,
        "deleted_data_files_count": 0, "added_rows_count": 2,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    })
    write_container(ml, MLS, mfs, metadata={"format-version": "2"})
    got = sorted(
        (x["k"], x["v"])
        for x in IcebergTableReader(path).to_df(spark).collect()
    )
    assert got == [(2, 20), (4, 40)]  # pos 0 (k=1) + eq k=3 gone

    # an avro eq-delete lacking the declared equality field: loud
    bad = os.path.join(data_dir, "bad-eqdel.avro")
    write_container(
        bad,
        {"type": "record", "name": "b", "fields": [
            {"name": "other", "type": ["null", "long"], "default": None},
        ]},
        [{"other": 1}],
    )
    m3 = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-bad.avro")
    write_container(m3, mschema, [del_entry(bad, 2, eq=[1], seq=3)],
                    metadata={"format-version": "2"})
    _, mfs2, _ = read_container(ml)
    mfs2.append({
        "manifest_path": m3, "manifest_length": os.path.getsize(m3),
        "partition_spec_id": 0, "content": 1,
        "sequence_number": 3, "min_sequence_number": 3,
        "added_snapshot_id": 1,
        "added_data_files_count": 1, "existing_data_files_count": 0,
        "deleted_data_files_count": 0, "added_rows_count": 1,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    })
    write_container(ml, MLS, mfs2, metadata={"format-version": "2"})
    with pytest.raises(Exception, match="lacks field"):
        IcebergTableReader(path).to_df(spark).collect()


def test_update_where_v3_folds_dvs_and_preserves_version(spark, tmp_path):
    """UPDATE on a format-v3 table: the CoW rewrite folds puffin DVs of
    the rewritten files away and the commit keeps format-version 3."""
    import json
    import os

    from pyspark.sql import functions as F

    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergTableReader,
        IcebergTableWriter,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(8)], "k long, v long"
    )
    w.create(df.coalesce(1), format_version=3)
    w.delete_where(spark, "k IN (2, 3)")  # puffin DV
    assert IcebergTableReader(path).snapshot().dv_deletes
    w.update_where(spark, "k >= 6", {"v": "v + 1"})
    r = IcebergTableReader(path)
    rows = {x["k"]: x["v"] for x in r.to_df(spark).collect()}
    assert rows == {0: 0, 1: 10, 4: 40, 5: 50, 6: 61, 7: 71}
    metas = sorted(
        f
        for f in os.listdir(os.path.join(path, "metadata"))
        if f.endswith(".metadata.json")
    )
    with open(os.path.join(path, "metadata", metas[-1])) as f:
        assert json.load(f)["format-version"] == 3


def test_update_where_aborts_on_concurrent_commit(spark, tmp_path):
    """The staged rewrite is computed against the scanned tip: ANY
    winner (even delete-only, whose tombstones the stale rewrite would
    resurrect) must abort, not rebase."""
    import pytest

    from aws_glue_data_lake_spark.icebergcompat import (
        ConcurrentModificationError,
        IcebergTableWriter,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(6)], "k long, v long"
    )
    w.create(df.coalesce(1))

    real_load = w._load_prev
    raced = {"done": False}

    def racing_load():
        meta = real_load()
        if not raced["done"]:
            raced["done"] = True
            IcebergTableWriter(path).delete_where(spark, "k = 0")
        return meta

    w._load_prev = racing_load
    with pytest.raises(ConcurrentModificationError):
        w.update_where(spark, "k >= 4", {"v": "0"})


def test_v3_writer_stamps_row_lineage(spark, tmp_path):
    """Spec v3: writers assign row lineage — each snapshot claims
    [next-row-id, next-row-id + added rows): first-row-id/added-rows on
    the snapshot, next-row-id advanced in table metadata; delete-only
    commits claim an empty range."""
    import json
    import os

    from aws_glue_data_lake_spark.icebergcompat import IcebergTableWriter

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    w.create(spark.range(10).selectExpr("id AS k"), format_version=3)
    w.append(spark.range(10, 15).selectExpr("id AS k"))
    w.delete_where(spark, "k = 3")
    metas = sorted(
        f
        for f in os.listdir(os.path.join(path, "metadata"))
        if f.endswith(".metadata.json")
    )
    with open(os.path.join(path, "metadata", metas[-1])) as f:
        m = json.load(f)
    assert m["next-row-id"] == 15
    lineage = [
        (s.get("first-row-id"), s.get("added-rows"))
        for s in m["snapshots"]
    ]
    assert lineage == [(0, 10), (10, 5), (15, 0)]


def test_append_merge_into_transform_partitioned_table(spark, tmp_path):
    """Round-10: append and MERGE into a FOREIGN table partitioned by
    non-identity transforms (day(ts) + bucket[4](k) — the layout real
    Iceberg deployments overwhelmingly use). The staged files' partition
    values must equal the spec transforms applied to the source values;
    reads, manifest partition pruning, and MoR merge must all hold."""
    import datetime
    import json
    import os

    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergTableReader,
        IcebergTableWriter,
        _transform_value,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    df = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 5), 10.0),
            (2, datetime.datetime(2024, 1, 1, 9), 20.0),
            (3, datetime.datetime(2024, 1, 2, 5), 30.0),
        ],
        "k long, ts timestamp, v double",
    )
    w.create(df.limit(0))  # unpartitioned create, then hack the spec
    meta_dir = os.path.join(path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        v = int(f.read())
    mpath = os.path.join(meta_dir, f"v{v}.metadata.json")
    meta = json.load(open(mpath))
    src_ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    meta["partition-specs"] = [{
        "spec-id": 0,
        "fields": [
            {"name": "ts_day", "transform": "day",
             "source-id": src_ids["ts"], "field-id": 1000},
            {"name": "k_bucket", "transform": "bucket[4]",
             "source-id": src_ids["k"], "field-id": 1001},
        ],
    }]
    with open(mpath, "w") as f:
        json.dump(meta, f)

    w.append(df)
    r = IcebergTableReader(path)
    snap = r.snapshot()
    # every staged file's partition tuple == the spec transforms applied
    epoch = datetime.date(1970, 1, 1)
    expected = {
        (
            (datetime.date(2024, 1, 1 if k < 3 else 2) - epoch).days,
            _transform_value("bucket[4]", k),
        )
        for k in (1, 2, 3)
    }
    got_pv = {
        (pv["ts_day"], pv["k_bucket"]) for _, pv in snap.files
    }
    assert got_pv == expected, (got_pv, expected)
    assert sorted(x["k"] for x in r.to_df(spark).collect()) == [1, 2, 3]
    # manifest-level partition pruning: the filter takes the SOURCE
    # value and the reader applies the spec transform itself
    pruned = r.to_df(
        spark,
        partition_filter={"ts": datetime.datetime(2024, 1, 1, 12)},
    )
    assert sorted(x["k"] for x in pruned.collect()) == [1, 2]
    # MoR MERGE into the transform table: upsert k=2, insert k=4
    batch = spark.createDataFrame(
        [
            (2, datetime.datetime(2024, 1, 1, 9), 99.0),
            (4, datetime.datetime(2024, 1, 3, 1), 40.0),
        ],
        "k long, ts timestamp, v double",
    )
    w.merge(batch, keys=["k"])
    rows = {
        x["k"]: x["v"] for x in IcebergTableReader(path).to_df(spark).collect()
    }
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
    # the metadata spec survives commits VERBATIM (no identity rewrite)
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        v2 = int(f.read())
    meta2 = json.load(open(os.path.join(meta_dir, f"v{v2}.metadata.json")))
    assert meta2["partition-specs"] == meta["partition-specs"]


def test_bucket_transform_null_and_timestamp_sources(spark, tmp_path):
    """ADVICE r10 (medium): (1) a nullable long bucket-source column
    with NULLs arrives in the staging pandas UDF as float64 — NaN must
    map to a null partition value and integral floats back to the exact
    long; (2) timestamp bucket hashing must use exact integer micros
    (float .timestamp() double rounding can shift the bucket)."""
    import datetime
    import json
    import os

    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergTableReader,
        IcebergTableWriter,
        _transform_value,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    df = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 5), 10.0),
            (None, datetime.datetime(2024, 1, 1, 9), 20.0),
            (3, datetime.datetime(2009, 2, 13, 23, 31, 30, 123457), 30.0),
        ],
        "k long, ts timestamp, v double",
    )
    w.create(df.limit(0))
    meta_dir = os.path.join(path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        v = int(f.read())
    mpath = os.path.join(meta_dir, f"v{v}.metadata.json")
    meta = json.load(open(mpath))
    src_ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    meta["partition-specs"] = [{
        "spec-id": 0,
        "fields": [
            {"name": "k_bucket", "transform": "bucket[8]",
             "source-id": src_ids["k"], "field-id": 1000},
            {"name": "ts_bucket", "transform": "bucket[8]",
             "source-id": src_ids["ts"], "field-id": 1001},
        ],
    }]
    with open(mpath, "w") as f:
        json.dump(meta, f)

    w.append(df)  # crashed on NaN / raised in _bucket_hash_bytes before
    r = IcebergTableReader(path)
    snap = r.snapshot()
    got_pv = {
        (pv["k_bucket"], pv["ts_bucket"]) for _, pv in snap.files
    }
    expected = {
        (
            _transform_value("bucket[8]", k),
            _transform_value("bucket[8]", ts),
        )
        for k, ts, _ in df.collect()
    }
    assert got_pv == expected, (got_pv, expected)
    assert r.to_df(spark).count() == 3
    # the NULL source row landed under a null partition value
    assert (None, _transform_value(
        "bucket[8]", datetime.datetime(2024, 1, 1, 9))) in got_pv


def test_v3_manifest_list_stamps_first_row_id(spark, tmp_path):
    """Spec v3 manifest-list field 520: the list writer assigns
    first_row_id to every data manifest lacking one (cursor = snapshot
    first-row-id, advancing by added+existing rows), so files inherit
    real ids and this engine's own row_lineage() materializes _row_id
    for its own v3 writes."""
    import json
    import os

    from aws_glue_data_lake_spark.avrolite import read_container
    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergTableReader,
        IcebergTableWriter,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    w.create(
        spark.range(10).selectExpr("id AS k").coalesce(1), format_version=3
    )
    w.append(spark.range(10, 15).selectExpr("id AS k").coalesce(1))

    metas = sorted(
        f
        for f in os.listdir(os.path.join(path, "metadata"))
        if f.endswith(".metadata.json")
    )
    with open(os.path.join(path, "metadata", metas[-1])) as f:
        m = json.load(f)
    cur = next(
        s
        for s in m["snapshots"]
        if s["snapshot-id"] == m["current-snapshot-id"]
    )
    _, mls, _ = read_container(cur["manifest-list"])
    fris = sorted(
        mf["first_row_id"] for mf in mls if mf.get("content", 0) == 0
    )
    assert fris == [0, 10], fris
    assert m["next-row-id"] == 15

    # own-table lineage materializes: single-file writes in id order
    got = {
        (r["k"], r["_row_id"])
        for r in IcebergTableReader(path).row_lineage(spark).collect()
    }
    assert got == {(k, k) for k in range(15)}, got


def test_v3_cow_rehoming_preserves_row_ids(spark, tmp_path):
    """Spec v3 data_file field 142: when a CoW commit re-homes an
    EXISTING entry into a new manifest, the id it INHERITED from its
    source manifest must be materialized explicitly — rows in untouched
    files keep their _row_id across another partition's overwrite."""
    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergTableReader,
        IcebergTableWriter,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    df = spark.createDataFrame(
        [(k, k // 5) for k in range(10)], "k long, p int"
    )
    w.create(df, partition_by=["p"], format_version=3)

    before = {
        r["k"]: r["_row_id"]
        for r in IcebergTableReader(path).row_lineage(spark).collect()
        if r["p"] == 0
    }
    assert len(before) == 5 and None not in before.values()

    w.overwrite_partition(
        spark.createDataFrame([(100, 1), (101, 1)], "k long, p int"),
        p=1,
    )
    rows = IcebergTableReader(path).row_lineage(spark).collect()
    after = {r["k"]: r["_row_id"] for r in rows if r["p"] == 0}
    assert after == before, (before, after)
    # replacement rows take ids from the NEW snapshot's claimed range
    new_ids = {r["_row_id"] for r in rows if r["p"] == 1}
    assert len(new_ids) == 2 and all(i >= 10 for i in new_ids), new_ids


def test_iceberg_wap_branch_flow(spark, tmp_path):
    """Write-audit-publish (spec § refs, spark.wap.branch): branch
    writes parent on the branch tip and never move main; branch reads
    resolve the ref; fast_forward publishes when (and only when) the
    target is an ancestor of the source; refs protect their snapshots
    from expire_snapshots; a write to a nonexistent branch auto-creates
    it from main."""
    import pytest as _pytest

    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergTableReader,
        IcebergTableWriter,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    w.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
    )
    w.create_branch("audit")
    w.append(
        spark.createDataFrame([(4, "d"), (5, "e")], "k long, v string"),
        branch="audit",
    )
    # MoR MERGE into the branch: update k=2, insert k=10
    w.merge(
        spark.createDataFrame(
            [(2, "B"), (10, "j")], "k long, v string"
        ),
        keys=["k"],
        branch="audit",
    )
    r = IcebergTableReader(path)
    main_rows = {x["k"]: x["v"] for x in r.to_df(spark).collect()}
    audit_rows = {
        x["k"]: x["v"] for x in r.to_df(spark, ref="audit").collect()
    }
    assert main_rows == {1: "a", 2: "b", 3: "c"}  # staging invisible
    assert audit_rows == {
        1: "a", 2: "B", 3: "c", 4: "d", 5: "e", 10: "j"
    }

    # PUBLISH: main fast-forwards to the audited state
    w.fast_forward("main", "audit")
    assert {
        x["k"]: x["v"] for x in IcebergTableReader(path).to_df(spark).collect()
    } == audit_rows

    # divergence: a new main commit makes main NOT an ancestor of audit
    w.append(spark.createDataFrame([(99, "z")], "k long, v string"))
    with _pytest.raises(ValueError, match="diverged"):
        w.fast_forward("main", "audit")
    # ...but audit (behind) fast-forwards onto main cleanly
    w.fast_forward("audit", "main")
    assert 99 in {
        x["k"]
        for x in IcebergTableReader(path).to_df(spark, ref="audit").collect()
    }

    # auto-create on first write (spark.wap.branch behavior)
    w.append(
        spark.createDataFrame([(50, "w")], "k long, v string"),
        branch="wap2",
    )
    r2 = IcebergTableReader(path)
    assert 50 in {
        x["k"] for x in r2.to_df(spark, ref="wap2").collect()
    }
    assert 50 not in {x["k"] for x in r2.to_df(spark).collect()}

    # refs protect their tips from expiry; unpublished staging survives
    w.expire_snapshots(keep_last=1)
    r3 = IcebergTableReader(path)
    assert 50 in {
        x["k"] for x in r3.to_df(spark, ref="wap2").collect()
    }
    assert {x["k"] for x in r3.to_df(spark).collect()} == {
        1, 2, 3, 4, 5, 10, 99,
    }


def test_iceberg_branch_equality_delete(spark, tmp_path):
    """The streaming-CDC staging shape: equality deletes commit to a
    branch (O(#keys), no table read), invisible on main until
    fast-forward publishes."""
    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergTableReader,
        IcebergTableWriter,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    w.create(
        spark.createDataFrame(
            [(k, k * 10) for k in range(6)], "k long, v long"
        )
    )
    w.equality_delete(
        spark.createDataFrame([(1,), (4,)], "k long"), branch="stage"
    )
    r = IcebergTableReader(path)
    assert r.to_df(spark).count() == 6  # main untouched
    assert sorted(
        x["k"] for x in r.to_df(spark, ref="stage").collect()
    ) == [0, 2, 3, 5]
    w.fast_forward("main", "stage")
    assert sorted(
        x["k"] for x in IcebergTableReader(path).to_df(spark).collect()
    ) == [0, 2, 3, 5]


def test_timestamp_travel_respects_rollback(spark, tmp_path):
    """snapshot-log rule: after rollback_to, a timestamp AFTER the
    rollback resolves to the rolled-back state — not the rolled-past
    snapshot that happens to carry an earlier commit timestamp."""
    import time as _t

    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergTableReader,
        IcebergTableWriter,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    w.create(spark.createDataFrame([(1,)], "k long"))
    r = IcebergTableReader(path)
    v1 = r.snapshot().snapshot_id
    _t.sleep(0.01)
    w.append(spark.createDataFrame([(2,)], "k long"))
    _t.sleep(0.01)
    w.rollback_to(v1)
    _t.sleep(0.01)
    after = int(_t.time() * 1000)
    r2 = IcebergTableReader(path)
    assert r2.snapshot_id_at_timestamp(after) == v1
    assert sorted(
        x["k"] for x in r2.to_df(spark, timestamp_ms=after).collect()
    ) == [1]


def test_overwrite_partition_day_transform(spark, tmp_path):
    """Round-12 (VERDICT r11 item 6): overwrite ONE day()-partition of
    a transform-partitioned table — the caller passes the transform
    RESULT (days since epoch) keyed by spec field name, the old
    partition's files die, the new batch stages transform-correctly,
    and the untouched partition's file survives verbatim."""
    import datetime
    import json
    import os

    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergTableReader,
        IcebergTableWriter,
    )

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    df = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 5), 10.0),
            (2, datetime.datetime(2024, 1, 1, 9), 20.0),
            (3, datetime.datetime(2024, 1, 2, 5), 30.0),
        ],
        "k long, ts timestamp, v double",
    )
    w.create(df.limit(0))
    meta_dir = os.path.join(path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        v = int(f.read())
    mpath = os.path.join(meta_dir, f"v{v}.metadata.json")
    meta = json.load(open(mpath))
    src_ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    meta["partition-specs"] = [{
        "spec-id": 0,
        "fields": [
            {"name": "ts_day", "transform": "day",
             "source-id": src_ids["ts"], "field-id": 1000},
        ],
    }]
    with open(mpath, "w") as f:
        json.dump(meta, f)
    w.append(df)
    epoch = datetime.date(1970, 1, 1)
    day1 = (datetime.date(2024, 1, 1) - epoch).days
    day2_files = {
        p for p, pv in IcebergTableReader(path).snapshot().files
        if pv["ts_day"] == day1 + 1
    }
    assert day2_files
    w.overwrite_partition(
        spark.createDataFrame(
            [
                (10, datetime.datetime(2024, 1, 1, 1), 100.0),
                (11, datetime.datetime(2024, 1, 1, 2), 110.0),
            ],
            "k long, ts timestamp, v double",
        ),
        ts_day=day1,
    )
    r = IcebergTableReader(path)
    rows = {x["k"]: x["v"] for x in r.to_df(spark).collect()}
    assert rows == {10: 100.0, 11: 110.0, 3: 30.0}
    # the untouched day's file survives VERBATIM (no rewrite)
    snap = r.snapshot()
    assert day2_files == {
        p for p, pv in snap.files if pv["ts_day"] == day1 + 1
    }
    # pruned read on the source value: only the replaced day changed
    pruned = r.to_df(
        spark,
        partition_filter={"ts": datetime.datetime(2024, 1, 1, 12)},
    )
    assert sorted(x["k"] for x in pruned.collect()) == [10, 11]
    # a STRING where days-since-epoch belongs refuses loudly
    import pytest as _pytest

    from aws_glue_data_lake_spark.icebergcompat import (
        IcebergProtocolError,
    )

    with _pytest.raises(IcebergProtocolError, match="RESULT"):
        w.overwrite_partition(
            spark.createDataFrame(
                [], "k long, ts timestamp, v double"
            ),
            ts_day="2024-01-01",
        )


def test_vectorized_bucket_hash_matches_scalar():
    """The numpy whole-array murmur3 used by the bucket-transform write
    path must be bit-identical to the scalar spec implementation (incl.
    Appendix B's hash(34L) vector) for any int64 — same bytes hashed,
    same 31-bit mask."""
    import random

    import numpy as np

    from aws_glue_data_lake_spark.icebergcompat import (
        _bucket_hash_bytes,
        _murmur3_32,
        _murmur3_32_long_np,
    )

    rng = random.Random(42)
    vals = [0, 1, -1, 34, 2**31, -(2**31), 2**63 - 1, -(2**63)] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(2000)
    ]
    scalar = np.array(
        [(_murmur3_32(_bucket_hash_bytes(v)) & 0x7FFFFFFF) for v in vals],
        dtype=np.int64,
    )
    vec = _murmur3_32_long_np(np.array(vals, dtype=np.int64))
    assert np.array_equal(scalar, vec)
    assert vec[3] == 2017239379 & 0x7FFFFFFF  # spec Appendix B: hash(34L)
