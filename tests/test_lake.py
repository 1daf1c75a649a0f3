"""Versioned-manifest lake layer: snapshot isolation, time travel,
file-pruned copy-on-write upserts (per-batch I/O ∝ batch, not target),
optimistic-concurrency commits, vacuum."""

import json
import os

import pytest

from pyspark.sql import functions as F

from aws_glue_data_lake_spark.lake import CommitConflict, LakeTable, NoSuchTable


def _table(spark, tmp_path, n=1000, files=4):
    """Target with keys 0..n-1 range-partitioned into ``files`` files with
    disjoint key ranges — the layout footer-stats pruning exploits."""
    t = LakeTable(str(tmp_path / "t"))
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
        )
        .repartitionByRange(files, "k")
    )
    t.create(df, stat_cols=["k"])
    return t


class TestSnapshots:
    def test_create_read_roundtrip(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        assert t.current_version() == 1
        got = t.read(spark)
        assert got.count() == 1000
        assert got.agg(F.sum("v")).first()[0] == sum(i * 10 for i in range(1000))

    def test_append_and_time_travel(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=100)
        extra = spark.range(100, 150).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        snap = t.append(extra)
        assert snap.version == 2
        assert t.read(spark).count() == 150
        assert t.read(spark, version=1).count() == 100  # time travel
        assert [s.op for s in t.history()] == ["create", "append"]

    def test_missing_table_raises(self, spark, tmp_path):
        with pytest.raises(NoSuchTable):
            LakeTable(str(tmp_path / "nope")).snapshot()

    def test_stat_max_is_metadata_only(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=1000)
        assert t.stat_max("k") == 999
        assert t.stat_max("no_such_col") is None


class TestUpsert:
    def test_upsert_merges_rows(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=100, files=4)
        batch = spark.createDataFrame([(5, -1), (200, -2)], "k long, v long")
        t.upsert(batch, keys=["k"])
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got[5] == -1  # updated
        assert got[200] == -2  # inserted
        assert got[6] == 60  # untouched
        assert len(got) == 101

    def test_upsert_io_proportional_to_batch(self, spark, tmp_path):
        """The scale property: a batch touching one file's key range must
        carry every other file into the new snapshot BY REFERENCE."""
        t = _table(spark, tmp_path, n=1000, files=4)
        before = t.snapshot()
        lo, hi = 0, 5  # inside the first file's range only
        batch = spark.createDataFrame(
            [(k, -k) for k in range(lo, hi)], "k long, v long"
        )
        t.upsert(batch, keys=["k"])
        after = t.snapshot()
        carried = set(before.file_names) & set(after.file_names)
        rewritten = set(before.file_names) - set(after.file_names)
        assert len(rewritten) == 1, "exactly one file overlapped the batch"
        assert len(carried) == len(before.files) - 1
        # and the merge is still correct
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert all(got[k] == -k for k in range(lo, hi))
        assert got[999] == 9990

    def test_timestamp_keyed_upsert_prunes(self, spark, tmp_path):
        """Non-JSON-native key types: timestamp stats round-trip through the
        manifest as ISO strings; the batch range must compare against them
        without type errors and still prune."""
        from datetime import datetime, timedelta

        t = LakeTable(str(tmp_path / "ts"))
        day0 = datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(day0 + timedelta(days=d), d) for d in range(100)],
            "d timestamp_ntz, v long",
        ).repartitionByRange(4, "d")
        t.create(df, stat_cols=["d"])
        before = t.snapshot()
        batch = spark.createDataFrame(
            [(datetime(2024, 1, 2), -1)], "d timestamp_ntz, v long"
        )
        t.upsert(batch, keys=["d"])
        after = t.snapshot()
        assert len(set(before.file_names) & set(after.file_names)) == 3
        got = {r["d"]: r["v"] for r in t.read(spark).collect()}
        assert got[datetime(2024, 1, 2)] == -1 and len(got) == 100

    def test_delete_only_batch(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=100, files=2)
        empty = spark.createDataFrame([], "k long, v long")
        kill = spark.createDataFrame([(0,), (1,), (2,)], "k long")
        t.upsert(empty, keys=["k"], delete_keys=kill)
        got = t.read(spark)
        assert got.count() == 97
        assert got.where(F.col("k") < 3).count() == 0

    def test_disjoint_batch_is_pure_append(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=100, files=2)
        before = t.snapshot()
        batch = spark.createDataFrame([(10_000, 1)], "k long, v long")
        t.upsert(batch, keys=["k"])
        after = t.snapshot()
        assert set(before.file_names) <= set(after.file_names)
        assert t.read(spark).count() == 101


class TestMergeUpdate:
    """merge(): WHEN MATCHED UPDATE (column-level, update-in-place) +
    WHEN NOT MATCHED INSERT — the full-MERGE counterpart of upsert()'s
    delete+insert rewrite."""

    def test_updates_only_named_columns(self, spark, tmp_path):
        t = LakeTable(str(tmp_path / "m"))
        df = spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "k long, v long, tag string"
        )
        t.create(df, stat_cols=["k"])
        src = spark.createDataFrame([(1, 99, "SRC")], "k long, v long, tag string")
        t.merge(src, keys=["k"], update={"v": F.col("source.v")})
        got = {r["k"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}
        assert got[1] == (99, "a")  # v updated, tag KEPT from target
        assert got[2] == (20, "b")  # unmatched target untouched

    def test_update_expr_may_reference_both_sides(self, spark, tmp_path):
        t = LakeTable(str(tmp_path / "m"))
        t.create(spark.createDataFrame([(1, 10)], "k long, v long"), stat_cols=["k"])
        src = spark.createDataFrame([(1, 5)], "k long, v long")
        t.merge(
            src, keys=["k"],
            update={"v": F.col("target.v") + F.col("source.v")},
            insert=False,
        )
        assert t.read(spark).first()["v"] == 15

    def test_unmatched_source_inserted_or_discarded(self, spark, tmp_path):
        t = LakeTable(str(tmp_path / "m"))
        t.create(spark.createDataFrame([(1, 10)], "k long, v long"), stat_cols=["k"])
        src = spark.createDataFrame([(2, 20)], "k long, v long")
        t.merge(src, keys=["k"], insert=False)
        assert t.read(spark).count() == 1
        t.merge(src, keys=["k"])  # insert=True default
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == {1: 10, 2: 20}

    def test_merge_io_proportional_to_batch(self, spark, tmp_path):
        """Same file-pruning contract as upsert: a source touching one
        file's key range carries every other file by reference."""
        t = _table(spark, tmp_path, n=1000, files=4)
        before = t.snapshot()
        src = spark.createDataFrame([(3, 1)], "k long, v long")
        t.merge(src, keys=["k"], update={"v": F.col("target.v") + F.lit(1)})
        after = t.snapshot()
        assert len(set(before.file_names) - set(after.file_names)) == 1
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got[3] == 31 and got[999] == 9990 and len(got) == 1000

    def test_updating_key_column_rejected(self, spark, tmp_path):
        t = LakeTable(str(tmp_path / "m"))
        t.create(spark.createDataFrame([(1, 10)], "k long, v long"), stat_cols=["k"])
        with pytest.raises(ValueError, match="key columns"):
            t.merge(
                spark.createDataFrame([(1, 2)], "k long, v long"),
                keys=["k"], update={"k": F.lit(7)},
            )


class TestPartitionedTable:
    def _ptable(self, spark, tmp_path):
        t = LakeTable(str(tmp_path / "pt"))
        df = spark.range(300).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("part"),
            (F.col("id") * 10).alias("v"),
        )
        t.create(df, stat_cols=["k"], partition_by=["part"])
        return t

    def test_partitioned_layout_and_roundtrip(self, spark, tmp_path):
        t = self._ptable(spark, tmp_path)
        snap = t.snapshot()
        assert snap.partition_by == ("part",)
        assert all(f.get("partition", {}).get("part") in {"0", "1", "2"}
                   for f in snap.files)
        assert os.path.isdir(os.path.join(t._data, "part=0"))
        got = t.read(spark)
        assert got.count() == 300
        assert set(got.columns) == {"k", "part", "v"}  # partition col restored
        assert got.where(F.col("part") == "1").count() == 100

    def test_partition_filter_prunes_file_list(self, spark, tmp_path):
        t = self._ptable(spark, tmp_path)
        got = t.read(spark, partition_filter={"part": 1})
        assert got.count() == 100
        assert got.select("part").distinct().first()["part"] == "1"
        # the plan touches only part=1 files (manifest-level pruning)
        scanned = [
            f for f in t.snapshot().files
            if f.get("partition", {}).get("part") == "1"
        ]
        assert got.inputFiles() and len(got.inputFiles()) == len(scanned)
        empty = t.read(spark, partition_filter={"part": "nope"})
        assert empty.count() == 0

    def test_partitioned_upsert_and_append_keep_layout(self, spark, tmp_path):
        t = self._ptable(spark, tmp_path)
        batch = spark.createDataFrame(
            [(5, "2", -5)], "k long, part string, v long"
        )
        t.upsert(batch, keys=["k"])
        got = {r["k"]: (r["part"], r["v"]) for r in t.read(spark).collect()}
        assert got[5] == ("2", -5) and len(got) == 300
        t.append(spark.createDataFrame([(1000, "0", 1)],
                                       "k long, part string, v long"))
        snap = t.snapshot()
        assert all("partition" in f for f in snap.files)
        assert t.read(spark, partition_filter={"part": 0}).count() == 101

    def test_partitioned_compact_preserves_layout(self, spark, tmp_path):
        t = self._ptable(spark, tmp_path)
        for k in (1, 2):
            t.upsert(
                spark.createDataFrame([(1000 + k, str(k % 3), 0)],
                                      "k long, part string, v long"),
                keys=["k"],
            )
        snap = t.compact(spark, target_files=3)
        assert snap.op == "compact"
        assert all("partition" in f for f in snap.files)
        assert t.read(spark).count() == 302
        assert t.read(spark, partition_filter={"part": 1}).count() == 101


class TestIdempotentStreamAppend:
    def test_replayed_batch_commits_once(self, spark, tmp_path):
        """foreachBatch replays a micro-batch after failure; the
        (writer_id, batch_id) txn in the manifest must dedupe it."""
        t = _table(spark, tmp_path, n=10, files=1)
        b = spark.createDataFrame([(100, 1), (101, 2)], "k long, v long")
        snap = t.append_stream_batch(b, writer_id="w1", batch_id=0)
        assert snap is not None and snap.txn == {"writer_id": "w1", "batch_id": 0}
        assert t.append_stream_batch(b, writer_id="w1", batch_id=0) is None
        assert t.read(spark).count() == 12  # not 14
        # a later batch and a different writer both commit normally
        assert t.append_stream_batch(b, writer_id="w1", batch_id=1) is not None
        assert t.append_stream_batch(b, writer_id="w2", batch_id=0) is not None
        assert t.last_committed_batch("w1") == 1
        assert t.last_committed_batch("nope") is None


class TestCommitProtocol:
    def test_concurrent_commit_conflict(self, spark, tmp_path):
        """True race: both writers compute against v1; the one that reaches
        the O_EXCL v2 create second must get CommitConflict."""
        t = _table(spark, tmp_path, n=10, files=1)
        prev = t.snapshot()  # loser reads v1 ...
        rival = os.path.join(t._manifests, "v2.json")
        with open(rival, "w") as f:  # ... rival lands v2 first
            json.dump(
                {"version": 2, "files": prev.files, "schema": prev.schema,
                 "op": "append", "parent": 1},
                f,
            )
        with pytest.raises(CommitConflict):
            t._commit(prev.files, prev.schema, "append", prev=prev)

    def test_committed_rival_is_simply_the_new_base(self, spark, tmp_path):
        """A COMMITTED v2 (even one whose writer died before swapping
        ``_latest``) is authoritative: the next append builds on it rather
        than conflicting — the manifest listing, not the pointer, is the
        source of truth."""
        t = _table(spark, tmp_path, n=10, files=1)
        b1 = spark.createDataFrame([(100, 1)], "k long, v long")
        t.append(b1)  # v2
        # Simulate the crash window: pointer still says 1.
        with open(t._latest, "w") as f:
            f.write("1")
        assert t.current_version() == 2
        assert t.read(spark).count() == 11
        b2 = spark.createDataFrame([(101, 2)], "k long, v long")
        assert t.append(b2).version == 3  # no wedged CommitConflict
        assert t.read(spark).count() == 12

    def test_stale_pointer_survives_vacuum(self, spark, tmp_path):
        """Crashed-writer scenario from the round-2 advice: v{N+1} committed
        but ``_latest`` still N. Vacuum(keep_versions=1) must keep v{N+1}
        (the real current snapshot) and must NOT leave the table unreadable."""
        t = _table(spark, tmp_path, n=100, files=4)
        t.upsert(
            spark.createDataFrame([(0, -1)], "k long, v long"), keys=["k"]
        )  # v2 rewrites one file
        with open(t._latest, "w") as f:
            f.write("1")  # crash before pointer swap
        t.vacuum(keep_versions=1)
        assert t.current_version() == 2
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert len(got) == 100 and got[0] == -1

    def test_two_writers_conflict_and_retry(self, spark, tmp_path):
        """Optimistic concurrency end-to-end under real contention: two
        threads append concurrently; at most one wins each version, the
        loser sees CommitConflict, reloads, retries, and succeeds — no
        lost update, no duplicate."""
        import threading

        t = _table(spark, tmp_path, n=10, files=1)
        barrier = threading.Barrier(2)
        outcomes: dict[str, list] = {"conflicts": [], "errors": []}

        def writer(tag: int) -> None:
            df = spark.createDataFrame([(100 + tag, tag)], "k long, v long")
            barrier.wait()
            for _ in range(10):  # retry loop a real writer runs
                try:
                    t.append(df)
                    return
                except CommitConflict:
                    outcomes["conflicts"].append(tag)
            outcomes["errors"].append(tag)

        threads = [threading.Thread(target=writer, args=(i,)) for i in (1, 2)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not outcomes["errors"]
        got = {r["k"] for r in t.read(spark).collect()}
        assert {101, 102} <= got and t.read(spark).count() == 12
        assert t.current_version() == 3  # one commit per writer

    def test_schema_enforcement_rejects_drift(self, spark, tmp_path):
        """Delta-style write-side schema contract: a drifting batch fails
        at commit, not at some later read."""
        t = _table(spark, tmp_path, n=10, files=1)
        drifted = spark.createDataFrame([(1, "oops")], "k long, v string")
        with pytest.raises(ValueError, match="schema mismatch"):
            t.append(drifted)
        extra_col = spark.createDataFrame([(1, 2, 3)], "k long, v long, w long")
        with pytest.raises(ValueError, match="schema mismatch"):
            t.upsert(extra_col, keys=["k"])
        assert t.current_version() == 1  # nothing committed

    def test_create_twice_raises(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=10, files=1)
        with pytest.raises(FileExistsError):
            t.create(spark.range(1).select(F.col("id").alias("k")))

    def test_compact_preserves_data_and_pruning(self, spark, tmp_path):
        """OPTIMIZE-equivalent: many small files → few range-partitioned
        files; data identical, pre-compaction snapshots still readable,
        and upsert pruning still works on the compacted layout."""
        t = _table(spark, tmp_path, n=400, files=4)
        for k in (10, 150, 300):  # three upserts → extra small files
            t.upsert(
                spark.createDataFrame([(k, -k)], "k long, v long"), keys=["k"]
            )
        pre = t.snapshot()
        assert len(pre.files) > 4
        snap = t.compact(spark, target_files=2)
        assert snap.op == "compact" and len(snap.files) == 2
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert len(got) == 400 and got[10] == -10 and got[399] == 3990
        # time travel to the pre-compaction snapshot still works
        assert t.read(spark, version=pre.version).count() == 400
        # pruning still effective: a narrow batch rewrites 1 of the 2 files
        before = t.snapshot()
        t.upsert(spark.createDataFrame([(0, 1)], "k long, v long"), keys=["k"])
        carried = set(before.file_names) & set(t.snapshot().file_names)
        assert len(carried) == 1

    def test_vacuum_drops_only_unreferenced(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=100, files=4)
        batch = spark.createDataFrame([(0, -1)], "k long, v long")
        t.upsert(batch, keys=["k"])
        removed = t.vacuum(keep_versions=1)
        assert removed, "the rewritten v1 file should be vacuumed"
        assert t.read(spark).count() == 100  # current snapshot intact
        with pytest.raises(NoSuchTable):
            t.read(spark, version=1)

    def test_vacuum_collects_commit_loser_orphans(self, spark, tmp_path):
        """A writer that loses the commit race has already written its data
        files; they belong to no manifest and vacuum must collect them."""
        t = _table(spark, tmp_path, n=20, files=2)
        prev = t.snapshot()  # loser computes against v1 ...
        loser = spark.createDataFrame([(100, 1)], "k long, v long")
        loser_files = t._write_files(loser, ["k"])  # ... lands data files ...
        rival = os.path.join(t._manifests, "v2.json")
        with open(rival, "w") as f:  # ... rival commits v2 first ...
            json.dump(
                {"version": 2, "files": prev.files, "schema": prev.schema,
                 "op": "append", "parent": 1},
                f,
            )
        with pytest.raises(CommitConflict):  # ... loser's commit fails
            t._commit(
                prev.files + loser_files, prev.schema, "append", prev=prev,
            )
        n_data = sum(len(fs) for _, _, fs in os.walk(t._data))
        removed = t.vacuum(keep_versions=1)
        assert removed, "orphaned loser files must be collected"
        assert sum(len(fs) for _, _, fs in os.walk(t._data)) == n_data - len(removed)
        assert t.read(spark).count() == 20


class TestUpsertKillUnion:
    def test_partial_delete_keys_leaves_no_duplicates(self, spark, tmp_path):
        """MERGE must replace upserted keys even when an explicit
        delete_keys set doesn't mention them — kill = delete_keys ∪
        batch keys, otherwise stale copies survive as duplicate keys."""
        t = _table(spark, tmp_path, n=20, files=2)
        ups = spark.createDataFrame([(5, -5), (6, -6)], "k long, v long")
        kill_only = spark.createDataFrame([(7,)], "k long")  # not 5 or 6
        t.upsert(ups, keys=["k"], delete_keys=kill_only)
        got = t.read(spark)
        assert got.count() == 19  # 20 - deleted(7) - replaced(5,6) + 2
        by_k = {r["k"]: r["v"] for r in got.collect()}
        assert by_k[5] == -5 and by_k[6] == -6 and 7 not in by_k
        assert got.groupBy("k").count().where("count > 1").count() == 0


class TestTxnCarryForward:
    def test_replay_dedup_survives_vacuum(self, spark, tmp_path):
        """Exactly-once must hold across vacuum: the cumulative per-writer
        txn map rides in every manifest, so a replayed micro-batch older
        than the retained snapshots is still skipped."""
        t = _table(spark, tmp_path, n=10, files=1)
        b = spark.createDataFrame([(100, 1)], "k long, v long")
        t.append_stream_batch(b, writer_id="w1", batch_id=0)
        t.append_stream_batch(b, writer_id="w1", batch_id=1)
        t.compact(spark, target_files=1)
        t.vacuum(keep_versions=1)  # drops the manifests carrying both txns
        assert t.last_committed_batch("w1") == 1
        assert t.append_stream_batch(b, writer_id="w1", batch_id=0) is None
        assert t.append_stream_batch(b, writer_id="w1", batch_id=1) is None
        assert t.read(spark).count() == 12  # replays added nothing


class TestSchemaEvolution:
    """append(merge_schema=True): the explicit write-side evolution path
    (Delta mergeSchema / the reference's DynamicFrame union-widening,
    icberg/iceberg_tables.py:23)."""

    def test_added_column_null_backfills_old_rows(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=10, files=1)
        wide = spark.createDataFrame([(100, 1, "x")], "k long, v long, tag string")
        snap = t.append(wide, merge_schema=True)
        assert "tag" in snap.schema
        got = {r["k"]: r["tag"] for r in t.read(spark).collect()}
        assert got[100] == "x"
        assert got[0] is None  # pre-evolution row surfaces NULL
        # time travel: the pre-evolution snapshot keeps its narrow schema
        assert "tag" not in t.read(spark, version=1).columns

    def test_batch_missing_columns_are_null_filled(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=10, files=1)
        narrow = spark.createDataFrame([(200,)], "k long")
        t.append(narrow, merge_schema=True)
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got[200] is None and got[3] == 30

    def test_type_change_is_rejected(self, spark, tmp_path):
        t = _table(spark, tmp_path, n=10, files=1)
        drifted = spark.createDataFrame([(1, "oops")], "k long, v string")
        with pytest.raises(ValueError, match="cannot change column"):
            t.append(drifted, merge_schema=True)

    def test_case_insensitive_column_match(self, spark, tmp_path):
        """A batch whose column names differ only in case must bind to the
        existing columns (Spark's default resolution, which the reference
        depends on — it drops 'Op' against an 'op' data column), not add
        duplicate columns."""
        t = _table(spark, tmp_path, n=10, files=1)
        upper = spark.createDataFrame([(300, 5)], "K long, V long")
        snap = t.append(upper, merge_schema=True)
        # no new columns (nullability is outside the schema contract)
        from pyspark.sql.types import StructType

        def shape(ddl):
            return [
                (f.name.lower(), f.dataType.simpleString())
                for f in StructType.fromDDL(ddl).fields
            ]

        assert shape(snap.schema) == shape(t.snapshot(1).schema)
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got[300] == 5

    def test_evolved_schema_is_enforced_and_upsertable(self, spark, tmp_path):
        """After evolution the NEW schema is the write contract: a plain
        append of the old narrow shape is rejected, and upserts carrying
        the evolved shape merge correctly."""
        t = _table(spark, tmp_path, n=10, files=1)
        t.append(
            spark.createDataFrame([(100, 1, "x")], "k long, v long, tag string"),
            merge_schema=True,
        )
        with pytest.raises(ValueError, match="schema mismatch"):
            t.append(spark.createDataFrame([(1, 1)], "k long, v long"))
        t.upsert(
            spark.createDataFrame([(0, -1, "patched")], "k long, v long, tag string"),
            keys=["k"],
        )
        got = {r["k"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}
        assert got[0] == (-1, "patched") and got[100] == (1, "x")
        assert len(got) == 11


class TestLegacyManifests:
    def test_legacy_txn_chain_upgrade_keeps_all_writers(self, spark, tmp_path):
        """Round-3 advice (medium): on a pre-carry-forward manifest chain
        with several stream writers, the first new-format commit must fold
        EVERY historical txn record into the cumulative map — seeding from
        the chain tip alone forgets any writer not at the tip, and the
        history fallback no longer applies once a txns map exists, so a
        replayed micro-batch would re-append (exactly-once violated)."""
        t = _table(spark, tmp_path, n=10, files=1)
        b = spark.createDataFrame([(100, 1)], "k long, v long")
        t.append_stream_batch(b, writer_id="w1", batch_id=3)
        t.append_stream_batch(b, writer_id="w2", batch_id=7)  # w2 is the tip
        # Rewrite every manifest to the legacy format: txn only, no txns.
        for v in t._manifest_versions():
            mpath = os.path.join(t._manifests, f"v{v}.json")
            with open(mpath) as f:
                m = json.load(f)
            m.pop("txns", None)
            with open(mpath, "w") as f:
                json.dump(m, f)
        # First new-format commit on the legacy chain.
        extra = spark.createDataFrame([(200, 2)], "k long, v long")
        snap = t.append(extra)
        assert snap.txns == {"w1": 3, "w2": 7}  # both writers survive
        # Replays of either writer are still deduped.
        assert t.append_stream_batch(b, writer_id="w1", batch_id=3) is None
        assert t.append_stream_batch(b, writer_id="w2", batch_id=7) is None
        assert t.last_committed_batch("w1") == 3

    def test_stray_manifest_names_are_ignored(self, spark, tmp_path):
        """A stray file matching the v*.json glob (backup copies, notes)
        must be skipped by the strict name filter, not raise ValueError
        and brick every table operation including exists()."""
        t = _table(spark, tmp_path, n=10, files=1)
        open(os.path.join(t._manifests, "v1.json.json"), "w").write("{}")
        open(os.path.join(t._manifests, "vNOTES.json"), "w").write("junk")
        assert t.exists()
        assert t.current_version() == 1
        assert t.read(spark).count() == 10


class TestPartitionValueEscaping:
    def test_escaped_partition_values_round_trip(self, spark, tmp_path):
        """Spark percent-escapes space/'/'/':' in partition paths; the
        manifest must record the real value so partition_filter matches."""
        t = LakeTable(str(tmp_path / "esc"))
        df = spark.createDataFrame(
            [(1, "north america"), (2, "emea/uk"), (3, "apac:jp")],
            "k long, region string",
        )
        t.create(df, stat_cols=["k"], partition_by=["region"])
        snap = t.snapshot()
        vals = {f["partition"]["region"] for f in snap.files}
        assert vals == {"north america", "emea/uk", "apac:jp"}
        got = t.read(spark, partition_filter={"region": "emea/uk"})
        assert [r["k"] for r in got.collect()] == [2]
        assert t.read(
            spark, partition_filter={"region": "north america"}
        ).count() == 1


def test_deletion_vectors_merge_on_read(spark, tmp_path):
    """DV mechanics: (a) deletes never rewrite data files; (b) a second
    delete folds the first's positions into one sidecar per entry and
    supersedes the old sidecar; (c) reads at every version apply exactly
    that version's DVs (time travel sees deleted rows again); (d) compact
    folds DVs away; (e) vacuum collects superseded sidecars."""
    from pyspark.sql import functions as F

    from aws_glue_data_lake_spark.lake import LakeTable

    t = LakeTable(str(tmp_path / "dv_tbl"))
    df = spark.range(200).selectExpr("id", "id % 9 AS grp")
    t.create(df.repartition(4))
    v1_files = t.snapshot().file_names

    s2 = t.delete_where(spark, "grp = 4")
    assert s2.op == "delete-dv"
    assert t.snapshot().file_names == v1_files  # (a) no rewrite
    first_dvs = set(t.snapshot().dv_paths)
    assert len(first_dvs) == 1

    s3 = t.delete_where(spark, "id < 20")
    assert t.snapshot().file_names == v1_files  # still no rewrite
    second_dvs = set(t.snapshot().dv_paths)
    assert len(second_dvs) == 1 and second_dvs != first_dvs  # (b) folded

    live = [i for i in range(200) if i % 9 != 4 and i >= 20]
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == live
    # (c) time travel: v1 sees everything, v2 only the first delete
    assert t.read(spark, version=1).count() == 200
    assert t.read(spark, version=s2.version).count() == 200 - len(
        [i for i in range(200) if i % 9 == 4]
    )
    # a delete that tombstones no new row commits nothing, although
    # prior DVs exist; state unchanged
    assert t.delete_where(spark, "id = -1").version == s3.version
    assert t.read(spark).count() == len(live)

    s_c = t.compact(spark)
    assert t.snapshot().dv_paths == []  # (d) DVs folded into rewrite
    assert sorted(r["id"] for r in t.read(spark).collect()) == live

    removed = t.vacuum(keep_versions=1)
    assert any(r.startswith("_dv/") for r in removed)  # (e)
    assert sorted(r["id"] for r in t.read(spark).collect()) == live


def test_deletion_vector_sidecar_per_touched_entry(spark, tmp_path):
    """A delete that touches one of four files writes a sidecar holding
    only that file's (file_name, row_index) rows and re-points only
    that file's entry; the other entries keep their sidecar. After
    ``compact``, ``vacuum`` still collects the superseded sidecars."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from aws_glue_data_lake_spark.lake import LakeTable

    t = LakeTable(str(tmp_path / "dv_entry"))
    t.create(spark.range(200).selectExpr("id", "id % 9 AS grp").repartition(4))
    t.delete_where(spark, "grp = 4")
    first = {e["path"]: e["dv"]["path"] for e in t.snapshot().files}
    assert len(first) == 4 and len(set(first.values())) == 1

    # the file holding id 0: one matched row, one touched entry
    (name,) = [
        r["f"]
        for r in spark.read.parquet(
            *[t._abs(p) for p in t.snapshot().file_names]
        )
        .where("id = 0")
        .select(F.col("_metadata.file_name").alias("f"))
        .collect()
    ]
    t.delete_where(spark, "id = 0")
    after = {e["path"]: e["dv"]["path"] for e in t.snapshot().files}
    touched = [p for p in after if os.path.basename(p) == name]
    assert len(touched) == 1
    assert after[touched[0]] != first[touched[0]]
    assert {p: d for p, d in after.items() if p not in touched} == {
        p: d for p, d in first.items() if p not in touched
    }
    side = pq.read_table(t._abs(after[touched[0]])).to_pydict()
    assert set(side["file_name"]) == {name}
    old = pq.read_table(t._abs(first[touched[0]])).to_pydict()
    prior = {
        i for f, i in zip(old["file_name"], old["row_index"]) if f == name
    }
    assert set(side["row_index"]) > prior
    assert len(side["row_index"]) == len(prior) + 1
    live = [i for i in range(200) if i % 9 != 4 and i != 0]
    assert sorted(r["id"] for r in t.read(spark).collect()) == live

    t.compact(spark)
    assert t.snapshot().dv_paths == []
    removed = t.vacuum(keep_versions=1)
    assert {d for d in removed if d.startswith("_dv/")} == {
        first[touched[0]], after[touched[0]]
    }
    assert sorted(r["id"] for r in t.read(spark).collect()) == live


def test_shallow_clone_diverges_independently(spark, tmp_path):
    """clone_to copies ZERO data bytes (v1 references the source's files
    absolutely), then both tables evolve independently: clone writes are
    clone-local, source mutations never reach the clone, and the clone's
    vacuum refuses to touch foreign files."""
    import os

    from aws_glue_data_lake_spark.lake import LakeTable

    src = LakeTable(str(tmp_path / "src"))
    src.create(spark.range(100).selectExpr("id", "id % 5 AS grp").repartition(3))
    clone = src.clone_to(str(tmp_path / "fork"))

    assert clone.read(spark).count() == 100
    assert not os.path.isdir(os.path.join(str(tmp_path / "fork"), "data"))

    # diverge: clone appends + deletes; source deletes differently
    clone.append(spark.range(100, 120).selectExpr("id", "id % 5 AS grp"))
    clone.delete_where(spark, "grp = 0")
    src.delete_where(spark, "grp = 1")

    clone_ids = sorted(r["id"] for r in clone.read(spark).collect())
    src_ids = sorted(r["id"] for r in src.read(spark).collect())
    assert clone_ids == [i for i in range(120) if i % 5 != 0]
    assert src_ids == [i for i in range(100) if i % 5 != 1]

    # clone's vacuum must never delete the source's (foreign) files
    before = set(src.snapshot(1).file_names)
    clone.vacuum(keep_versions=1)
    for rel in before:
        assert os.path.exists(src._abs(rel))
    assert src.read(spark, version=1).count() == 100


def test_zorder_compaction_enables_two_dim_pruning(spark, tmp_path):
    """Z-order clustering must make BOTH clustered columns pruneable at
    once: after compact(zorder_by=[a, b]), a small box filter on (a, b)
    must plan strictly fewer files than the table holds (manifest-stats
    skipping), and the pruned read must equal the exact filter. A
    single-column range clustering over `a` is the control: it cannot
    prune on `b`."""
    from pyspark.sql import functions as F

    from aws_glue_data_lake_spark.lake import LakeTable

    df = spark.range(40_000).selectExpr(
        "id", "id % 200 AS a", "CAST(id / 200 AS BIGINT) AS b"
    )
    t = LakeTable(str(tmp_path / "z"))
    t.create(df.repartition(8), stat_cols=["a", "b"])
    t.compact(spark, target_files=16, zorder_by=["a", "b"])
    snap = t.snapshot()
    assert len(snap.files) == 16

    box = {"a": (10, 30), "b": (10, 30)}

    def files_overlapping(snapshot, ranges):
        keep = 0
        for f in snapshot.files:
            ok = True
            for col, (lo, hi) in ranges.items():
                fmin, fmax = f["stats"][col]
                if fmax < lo or fmin > hi:
                    ok = False
                    break
            keep += ok
        return keep

    n_z = files_overlapping(snap, box)
    assert n_z < 16  # the box must skip files

    got = sorted(r["id"] for r in t.read_pruned(spark, box).collect())
    expect = sorted(
        r["id"]
        for r in df.where(
            (F.col("a").between(10, 30)) & (F.col("b").between(10, 30))
        ).collect()
    )
    assert got == expect

    # control: single-column clustering can't skip on b
    t2 = LakeTable(str(tmp_path / "lin"))
    t2.create(df.repartition(8), stat_cols=["a", "b"])
    t2.compact(spark, target_files=16)  # ranges on stat_cols[0] == a only
    n_lin_b = files_overlapping(t2.snapshot(), {"b": (10, 30)})
    n_z_b = files_overlapping(snap, {"b": (10, 30)})
    assert n_z_b < n_lin_b  # z-layout skips on b; linear layout can't


def test_check_constraints_guard_every_write_path(spark, tmp_path):
    """CHECK constraints: adding one validates existing data first; every
    subsequent write path (append, streaming append, upsert) rejects a
    violating batch wholesale before any file lands; dropping the
    constraint reopens the gate; constraints survive unrelated commits."""
    import pytest

    from aws_glue_data_lake_spark.lake import ConstraintViolation, LakeTable

    t = LakeTable(str(tmp_path / "con"))
    t.create(spark.range(50).selectExpr("id", "CAST(id * 10 AS DOUBLE) AS v"))
    t.add_check_constraint(spark, "v_nonneg", "v >= 0")
    with pytest.raises(ConstraintViolation):
        t.add_check_constraint(spark, "impossible", "id > 1000")

    files_before = t.snapshot().file_names
    bad = spark.range(50, 60).selectExpr("id", "CAST(-1.0 AS DOUBLE) AS v")
    with pytest.raises(ConstraintViolation):
        t.append(bad)
    with pytest.raises(ConstraintViolation):
        t.append_stream_batch(bad, writer_id="w1", batch_id=0)
    with pytest.raises(ConstraintViolation):
        t.upsert(bad, keys=["id"])
    assert t.snapshot().file_names == files_before  # nothing landed
    assert t.read(spark).count() == 50

    good = spark.range(50, 60).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    t.append(good)  # passes the gate
    assert t.snapshot().constraints == {"v_nonneg": "v >= 0"}  # carried

    t.drop_check_constraint("v_nonneg")
    t.append(bad)  # gate open again
    assert t.read(spark).count() == 70


def test_restore_rewinds_state_preserves_history(spark, tmp_path):
    """RESTORE is a commit, not an erase: the new tip re-references the
    target version's files, every intermediate version stays
    time-travelable, and a later restore can roll the rollback away."""
    t = _table(spark, tmp_path, n=100, files=2)           # v1: 0..99
    extra = spark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.append(extra)                                       # v2: 0..149
    t.delete_where(spark, "k % 2 = 0")                    # v3: odds only
    snap = t.restore(2)                                   # v4 == v2
    assert snap.version == 4 and snap.op == "restore:v2"
    assert t.read(spark).count() == 150                   # delete undone
    assert t.read(spark, version=3).count() == 75         # history intact
    assert sorted(t.snapshot().file_names) == sorted(
        t.snapshot(2).file_names
    )  # zero-copy: same files, re-referenced
    t.restore(3)                                          # roll the rollback
    assert t.read(spark).count() == 75


def test_restore_fails_after_vacuum(spark, tmp_path):
    """Within one table vacuum drops old manifests along with their files,
    so an un-restorable version is simply NoSuchTable. The dangling-file
    path needs a FOREIGN reference: a shallow clone still points (by
    absolute path) at source files the source's own vacuum collected —
    restore must fail loudly instead of committing an unscannable tip."""
    src = _table(spark, tmp_path, n=50, files=2)
    clone = src.clone_to(str(tmp_path / "clone"))
    clone.append(
        spark.createDataFrame([(100, 1)], "k long, v long")
    )  # clone v2: survives on clone-local files
    # source rewrites everything and vacuums — the clone's v1 now dangles
    src.upsert(
        spark.range(50).selectExpr("id AS k", "id * 20 AS v"), keys=["k"]
    )
    src.vacuum(keep_versions=1)
    with pytest.raises(ValueError, match="vacuum already removed"):
        clone.restore(1)

    # plain-table variant: the vacuumed version's manifest is gone too
    src.upsert(spark.createDataFrame([(0, -1)], "k long, v long"), keys=["k"])
    src.vacuum(keep_versions=1)
    from aws_glue_data_lake_spark.lake import NoSuchTable

    with pytest.raises(NoSuchTable):
        src.restore(2)


def test_restore_carries_txn_replay_state_forward(spark, tmp_path):
    """Exactly-once survives a rollback: txn state is cumulative, so a
    micro-batch committed AFTER the restore target is still recognized
    as committed and its redelivery no-ops."""
    t = _table(spark, tmp_path, n=10, files=1)
    b = spark.createDataFrame([(100, 1)], "k long, v long")
    t.append_stream_batch(b, writer_id="w1", batch_id=0)  # v2
    t.append_stream_batch(b, writer_id="w1", batch_id=1)  # v3
    t.restore(2)                                          # v4: batch 1 rolled back
    assert t.last_committed_batch("w1") == 1              # ... but remembered
    assert t.append_stream_batch(b, writer_id="w1", batch_id=1) is None
    assert t.read(spark).count() == 11                    # replay added nothing


def test_restore_drops_constraints_added_later(spark, tmp_path):
    """Constraints are table STATE: restoring to a pre-constraint version
    drops the constraint along with the data it guarded."""
    from aws_glue_data_lake_spark.lake import ConstraintViolation

    t = _table(spark, tmp_path, n=10, files=1)
    t.add_check_constraint(spark, "v_nonneg", "v >= 0")   # v2
    bad = spark.createDataFrame([(100, -1)], "k long, v long")
    with pytest.raises(ConstraintViolation):
        t.append(bad)
    t.restore(1)                                          # v3: constraint gone
    assert t.snapshot().constraints is None
    t.append(bad)                                         # gate open
    assert t.read(spark).count() == 11


def test_repartition_layout_migrates_and_preserves_history(spark, tmp_path):
    """Layout migration is a rewrite commit: data identical, new Hive
    layout prunes, old versions keep their old layout, later writes land
    partitioned, and migrating back to unpartitioned works too."""
    t = LakeTable(str(tmp_path / "m"))
    df = spark.range(100).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS bucket", "id * 10 AS v"
    )
    t.create(df, stat_cols=["k"])                          # v1 unpartitioned
    snap = t.repartition_layout(spark, ["bucket"])         # v2 partitioned
    assert snap.partition_by == ("bucket",)
    assert t.read(spark).count() == 100                    # row-identical
    assert t.read(spark, version=1).count() == 100         # old layout reads
    pruned = t.read(spark, partition_filter={"bucket": "1"})
    assert pruned.count() == 33 and {r.bucket for r in pruned.collect()} == {"1"}
    assert all(f.get("partition") for f in t.snapshot().files)
    t.append(spark.range(100, 110).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS bucket", "id * 10 AS v"
    ))                                                     # v3 stays partitioned
    assert all(f.get("partition") for f in t.snapshot().files)
    assert t.repartition_layout(spark, ["bucket"]).version == 3  # no-op
    back = t.repartition_layout(spark, ())                 # v4 unpartitioned
    assert back.partition_by == () and t.read(spark).count() == 110


def test_convert_in_place_zero_copy(spark, tmp_path):
    """CONVERT references source parquet by absolute path (no copy);
    upserts rewrite only affected files into table-local storage while
    untouched source files stay referenced; vacuum never deletes the
    foreign source files."""
    src_dir = str(tmp_path / "raw")
    spark.range(100).selectExpr("id AS k", "id * 10 AS v").repartitionByRange(
        4, "k"
    ).write.parquet(src_dir)
    t = LakeTable.convert_in_place(
        spark, src_dir, str(tmp_path / "t"), stat_cols=["k"]
    )
    snap = t.snapshot()
    assert len(snap.files) == 4
    assert all(os.path.isabs(f["path"]) for f in snap.files)
    assert t.read(spark).count() == 100
    assert t.stat_max("k") == 99  # footer stats harvested at convert

    n_src = len([f for f in os.listdir(src_dir) if f.endswith(".parquet")])
    t.upsert(spark.createDataFrame([(0, -1)], "k long, v long"), keys=["k"])
    after = t.snapshot()
    foreign = [f for f in after.files if os.path.isabs(f["path"])]
    assert len(foreign) == 3  # three source files carried by reference
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[0] == -1 and got[99] == 990 and len(got) == 100

    t.vacuum(keep_versions=1)
    assert (
        len([f for f in os.listdir(src_dir) if f.endswith(".parquet")])
        == n_src
    ), "vacuum must never delete foreign source files"
    assert t.read(spark).count() == 100


def test_upsert_merge_schema_widens(spark, tmp_path):
    """mergeSchema on the MERGE path: an upsert batch carrying a new
    column widens the table schema in the same commit; carried untouched
    files surface NULL for the new column at read time; a type change is
    still rejected."""
    t = _table(spark, tmp_path, n=100, files=4)
    batch = spark.createDataFrame(
        [(5, -1, "gold"), (200, -2, "silver")], "k long, v long, tier string"
    )
    with pytest.raises(ValueError):
        t.upsert(batch, keys=["k"])  # without merge_schema: rejected
    t.upsert(batch, keys=["k"], merge_schema=True)
    got = {r["k"]: (r["v"], r["tier"]) for r in t.read(spark).collect()}
    assert got[5] == (-1, "gold") and got[200] == (-2, "silver")
    assert got[6] == (60, None)  # carried row: NULL-backfilled
    assert len(got) == 101
    assert "tier" in t.snapshot().schema
    bad = spark.createDataFrame([(1, 1, 2.5)], "k long, v long, tier double")
    with pytest.raises(ValueError):
        t.upsert(bad, keys=["k"], merge_schema=True)  # type change = migration


def test_tags_pin_snapshots_through_vacuum(spark, tmp_path):
    """A tagged version's manifest AND files survive vacuum regardless of
    the retention window; deleting the tag releases them."""
    t = _table(spark, tmp_path, n=50, files=2)              # v1
    t.tag("release-v1")
    t.upsert(spark.createDataFrame([(0, -1)], "k long, v long"), keys=["k"])  # v2
    t.upsert(spark.createDataFrame([(1, -2)], "k long, v long"), keys=["k"])  # v3
    t.vacuum(keep_versions=1)
    assert t.read_tag(spark, "release-v1").count() == 50    # still scannable
    with pytest.raises(NoSuchTable):
        t.read(spark, version=2)                            # untagged: gone
    assert t.read(spark).count() == 50                      # tip intact
    t.delete_tag("release-v1")
    t.vacuum(keep_versions=1)
    with pytest.raises(NoSuchTable):
        t.read(spark, version=1)                            # released
    with pytest.raises(KeyError):
        t.read_tag(spark, "release-v1")
    with pytest.raises(NoSuchTable):
        t.tag("bad", version=99)                            # must exist


def test_shallow_clone_of_partitioned_table(spark, tmp_path):
    """Partitioned tables clone too: the mixed-root read reconstructs
    partition columns from manifest values, partition-filtered reads
    stay correct, and clone-local appends coexist with foreign files."""
    src = LakeTable(str(tmp_path / "psrc"))
    df = spark.range(90).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS bucket", "id * 10 AS v"
    )
    src.create(df, stat_cols=["k"], partition_by=["bucket"])
    clone = src.clone_to(str(tmp_path / "pclone"))
    assert clone.snapshot().partition_by == ("bucket",)
    assert clone.read(spark).count() == 90
    got = clone.read(spark, partition_filter={"bucket": "1"})
    assert got.count() == 30 and {r.bucket for r in got.collect()} == {"1"}
    # clone-local append -> mixed roots in one snapshot
    clone.append(spark.createDataFrame(
        [(100, "1", 1000)], "k long, bucket string, v long"
    ))
    assert clone.read(spark).count() == 91
    assert clone.read(
        spark, partition_filter={"bucket": "1"}
    ).count() == 31
    # source untouched, and the clone's full scan sums correctly
    assert src.read(spark).count() == 90
    assert clone.read(spark).agg(F.sum("v")).first()[0] == sum(
        i * 10 for i in range(90)
    ) + 1000


def test_vacuum_rejects_zero_retention(spark, tmp_path):
    """keep_versions=0 would delete the current tip (manifest + data) —
    a retention policy can never mean 'destroy the table', so vacuum
    fails loudly instead (ADVICE r6: the old index math kept nothing)."""
    t = _table(spark, tmp_path, n=20, files=2)
    with pytest.raises(ValueError, match="keep_versions"):
        t.vacuum(keep_versions=0)
    with pytest.raises(ValueError, match="keep_versions"):
        t.vacuum(keep_versions=-1)
    # table fully intact afterwards
    assert t.read(spark).count() == 20
    assert t.current_version() == 1


def test_convert_in_place_partitioned_source(spark, tmp_path):
    """CONVERT of a Hive-partitioned dataset: without partition_by it
    fails loudly (Delta's CONVERT TO DELTA requires PARTITIONED BY);
    with it, per-file partition values land in the manifest, partition
    columns survive with inferred types, and pruning works."""
    src_dir = str(tmp_path / "praw")
    spark.range(90).selectExpr(
        "id AS k", "CAST(id % 3 AS INT) AS bucket", "id * 10 AS v"
    ).write.partitionBy("bucket").parquet(src_dir)

    with pytest.raises(ValueError, match="partition"):
        LakeTable.convert_in_place(spark, src_dir, str(tmp_path / "bad"))
    with pytest.raises(ValueError, match="not found"):
        LakeTable.convert_in_place(
            spark, src_dir, str(tmp_path / "bad2"), partition_by=["nope"]
        )

    t = LakeTable.convert_in_place(
        spark, src_dir, str(tmp_path / "t"),
        stat_cols=["k"], partition_by=["bucket"],
    )
    snap = t.snapshot()
    assert snap.partition_by == ("bucket",)
    assert all("partition" in f for f in snap.files)
    got = t.read(spark)
    assert "bucket" in got.columns
    assert got.count() == 90
    # partition values + types round-trip (basePath inference: int)
    assert got.agg(F.sum("bucket")).first()[0] == sum(i % 3 for i in range(90))
    pruned = t.read(spark, partition_filter={"bucket": "1"})
    assert pruned.count() == 30
    assert {r.bucket for r in pruned.collect()} == {1}


def test_mixed_root_null_partition_reads_as_null(spark, tmp_path):
    """A null partition value (written as the __HIVE_DEFAULT_PARTITION__
    sentinel by the Hive path writer) must surface as NULL on the
    manifest-literal mixed-root read path, matching the single-root
    basePath read of the same snapshot (ADVICE r6)."""
    src = LakeTable(str(tmp_path / "nsrc"))
    df = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "a", 30)],
        "k long, bucket string, v long",
    )
    src.create(df, stat_cols=["k"], partition_by=["bucket"])
    single = src.read(spark)  # single-root basePath read
    assert single.filter(F.col("bucket").isNull()).count() == 1

    clone = src.clone_to(str(tmp_path / "nclone"))
    clone.append(
        spark.createDataFrame([(4, "b", 40)], "k long, bucket string, v long")
    )
    mixed = clone.read(spark)  # mixed-root manifest-literal path
    nulls = mixed.filter(F.col("bucket").isNull()).collect()
    assert len(nulls) == 1 and nulls[0].k == 2
    # no sentinel string leaks through
    assert (
        mixed.filter(F.col("bucket") == "__HIVE_DEFAULT_PARTITION__").count()
        == 0
    )
    assert mixed.count() == 4


def test_concurrent_tag_writers_keep_both_tags(spark, tmp_path):
    """Two concurrent tag() calls for DIFFERENT names must both land —
    the whole-file read-modify-write is serialized by the tag lock
    (ADVICE r6: an unlocked RMW lost one tag entirely, silently
    dropping its vacuum protection)."""
    import threading

    t = _table(spark, tmp_path, n=20, files=2)
    barrier = threading.Barrier(8)
    errs = []

    def _tagger(name):
        try:
            barrier.wait(timeout=10)
            t.tag(name, version=1)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [
        threading.Thread(target=_tagger, args=(f"tag-{i}",)) for i in range(8)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert set(t.tags()) == {f"tag-{i}" for i in range(8)}
    # and delete_tag under the same lock
    t.delete_tag("tag-3")
    assert "tag-3" not in t.tags() and len(t.tags()) == 7
