"""Optimistic-concurrency semantics of the format-compat writers.

The Delta protocol's filesystem log store commits via put-if-absent on
the next version file; Iceberg's Hadoop catalog does the same on
``vN.metadata.json``. Two writer classes of behavior are contract:

- BLIND APPENDS retry: a losing appender re-reads the tip, re-validates
  constraints/schema against it, and lands at the next version — two
  concurrent appenders both succeed (delta-spark OptimisticTransaction /
  Iceberg fast-append SnapshotProducer).
- READ-DEPENDENT operations (merge / delete / overwrite / optimize /
  rollback / tag / expire) validate the WINNING commits against their
  read set on a version race (delta-spark's ConflictChecker, Iceberg's
  validateNoConflicting*): logically DISJOINT winners rebase — the same
  staged files re-commit at the next version — while a genuine overlap
  raises ConcurrentModificationError (the winner may have changed the
  rows they matched, so replaying staged actions could silently undo
  the winner's commit).

Races are forced two ways: deterministically (an instance-patched hook
lands a competitor commit between the victim's snapshot read and its
commit) and stochastically (threads hammering one table; the session is
thread-safe for job submission and O_EXCL is atomic across threads).
"""

import os
import threading
import types

import pytest
from pyspark.sql import functions as F

from aws_glue_data_lake_spark.deltacompat import (
    ConcurrentModificationError,
    DeltaTableReader,
    DeltaTableWriter,
)
from aws_glue_data_lake_spark.icebergcompat import (
    IcebergTableReader,
    IcebergTableWriter,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").cast("long").alias("k"),
        F.lit(tag).alias("src"),
    )


# ---------------------------------------------------------------------------
# Delta
# ---------------------------------------------------------------------------


def test_delta_append_retries_past_concurrent_append(spark, tmp_path):
    path = str(tmp_path / "t")
    w1 = DeltaTableWriter(path)
    w1.create(_df(spark, 0, 5, "base"))

    # Land a competitor append between w1's snapshot read and its commit:
    # the first _commit call on w1 first lets a FRESH writer win the race.
    orig = DeltaTableWriter._commit
    state = {"raced": False}

    def racy(self, version, actions, operation="WRITE"):
        if not state["raced"]:
            state["raced"] = True
            DeltaTableWriter(path).append(_df(spark, 100, 103, "winner"))
        return orig(self, version, actions, operation)

    w1._commit = types.MethodType(racy, w1)
    v = w1.append(_df(spark, 10, 14, "loser"))

    assert state["raced"]
    assert v == 2  # winner took 1, the retry landed at 2
    rows = DeltaTableReader(path).to_df(spark).groupBy("src").count().collect()
    counts = {r["src"]: r["count"] for r in rows}
    assert counts == {"base": 5, "winner": 3, "loser": 4}


def test_delta_append_revalidates_constraints_added_by_winner(spark, tmp_path):
    path = str(tmp_path / "t")
    w1 = DeltaTableWriter(path)
    w1.create(_df(spark, 0, 5, "base"))

    orig = DeltaTableWriter._commit
    state = {"raced": False}

    def racy(self, version, actions, operation="WRITE"):
        if not state["raced"]:
            state["raced"] = True
            # winner adds a CHECK the pending batch violates
            DeltaTableWriter(path).set_constraint("small_k", "k < 50")
        return orig(self, version, actions, operation)

    w1._commit = types.MethodType(racy, w1)
    with pytest.raises(ValueError, match="small_k"):
        w1.append(_df(spark, 100, 103, "loser"))
    # nothing landed: tip is the winner's metadata commit, data unchanged
    snap = DeltaTableReader(path).snapshot()
    assert snap.version == 1
    assert DeltaTableReader(path).to_df(spark).count() == 5


def test_delta_merge_conflict_on_overlapping_keys(spark, tmp_path):
    """A winner whose added file's key range overlaps the MERGE's batch
    keys could hold rows the MERGE should have matched — conflict."""
    path = str(tmp_path / "t")
    w1 = DeltaTableWriter(path)
    w1.create(_df(spark, 0, 20, "base"))

    orig = DeltaTableWriter._stage_files
    state = {"raced": False}

    def racy_stage(self, df, partition_by, cdc=False):
        if not state["raced"]:
            state["raced"] = True
            # winner's keys 0..2 overlap the merge batch's 0..2
            DeltaTableWriter(path).append(_df(spark, 0, 3, "winner"))
        return orig(self, df, partition_by, cdc=cdc)

    w1._stage_files = types.MethodType(racy_stage, w1)
    src = _df(spark, 0, 3, "upd")
    with pytest.raises(ConcurrentModificationError, match="MERGE"):
        w1.merge(spark, src, keys=["k"])
    # the failed merge left no commit and no phantom rows
    rows = DeltaTableReader(path).to_df(spark).groupBy("src").count().collect()
    counts = {r["src"]: r["count"] for r in rows}
    assert counts == {"base": 20, "winner": 3}


def test_delta_merge_rebases_past_disjoint_append(spark, tmp_path):
    """A winner whose added file is key-range-DISJOINT from the MERGE's
    batch cannot change what the MERGE matched: the staged commit
    rebases to the next version instead of aborting (delta-spark
    ConflictChecker semantics)."""
    path = str(tmp_path / "t")
    w1 = DeltaTableWriter(path)
    w1.create(_df(spark, 0, 20, "base"))

    orig = DeltaTableWriter._stage_files
    state = {"raced": False}

    def racy_stage(self, df, partition_by, cdc=False):
        if not state["raced"]:
            state["raced"] = True
            DeltaTableWriter(path).append(_df(spark, 200, 203, "winner"))
        return orig(self, df, partition_by, cdc=cdc)

    w1._stage_files = types.MethodType(racy_stage, w1)
    v = w1.merge(spark, _df(spark, 0, 3, "upd"), keys=["k"])
    assert state["raced"]
    assert v == 2  # winner took 1, the rebased merge landed at 2
    rows = DeltaTableReader(path).to_df(spark).groupBy("src").count().collect()
    counts = {r["src"]: r["count"] for r in rows}
    # 0..2 upserted, 3..19 carried, winner intact
    assert counts == {"base": 17, "upd": 3, "winner": 3}


def test_delta_merge_rebases_past_disjoint_partition(spark, tmp_path):
    """Two CDC jobs merging into DIFFERENT partitions of one table (the
    reference's two-Glue-jobs deployment): the loser detects the winner
    only touched another partition (via add.partitionValues against the
    batch key bounds) and rebases — both merges land."""
    path = str(tmp_path / "t")
    w1 = DeltaTableWriter(path)
    base = spark.range(0, 20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 10, "a").otherwise("b").alias("part"),
        F.lit("base").alias("src"),
    )
    w1.create(base, partition_by=["part"])

    def src_df(part, lo, hi, tag):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.lit(part).alias("part"),
            F.lit(tag).alias("src"),
        )

    orig = DeltaTableWriter._stage_files
    state = {"raced": False}

    def racy_stage(self, df, partition_by, cdc=False):
        if not state["raced"]:
            state["raced"] = True
            # the competitor merges into partition 'b' while we merge
            # into partition 'a'
            DeltaTableWriter(path).merge(
                spark, src_df("b", 15, 18, "job2"), keys=["part", "k"]
            )
        return orig(self, df, partition_by, cdc=cdc)

    w1._stage_files = types.MethodType(racy_stage, w1)
    v = w1.merge(spark, src_df("a", 0, 3, "job1"), keys=["part", "k"])
    assert state["raced"] and v == 2
    rows = DeltaTableReader(path).to_df(spark).groupBy("src").count().collect()
    counts = {r["src"]: r["count"] for r in rows}
    assert counts == {"base": 14, "job1": 3, "job2": 3}


def test_delta_optimize_rebases_past_concurrent_append(spark, tmp_path):
    """OPTIMIZE reads exactly the files it rewrites; a concurrent
    append is disjoint (its file stays live next to the compacted ones)
    — delta-spark lets them coexist, so must we."""
    path = str(tmp_path / "t")
    w1 = DeltaTableWriter(path)
    w1.create(_df(spark, 0, 20, "base").repartition(4))

    orig = DeltaTableWriter._commit
    state = {"raced": False}

    def racy(self, version, actions, operation="WRITE"):
        if not state["raced"]:
            state["raced"] = True
            DeltaTableWriter(path).append(_df(spark, 100, 103, "winner"))
        return orig(self, version, actions, operation)

    w1._commit = types.MethodType(racy, w1)
    v = w1.optimize(spark, target_files=1)
    assert state["raced"] and v == 2
    rows = DeltaTableReader(path).to_df(spark).groupBy("src").count().collect()
    counts = {r["src"]: r["count"] for r in rows}
    assert counts == {"base": 20, "winner": 3}  # nothing lost


def test_delta_optimize_conflicts_with_concurrent_delete(spark, tmp_path):
    """A winner that REMOVED a file the OPTIMIZE read (here: a DV
    delete re-adding the file) would have its delete silently undone by
    the compacted rewrite — genuine overlap, must abort."""
    path = str(tmp_path / "t")
    w1 = DeltaTableWriter(path)
    w1.create(_df(spark, 0, 20, "base"))

    orig = DeltaTableWriter._commit
    state = {"raced": False}

    def racy(self, version, actions, operation="WRITE"):
        if not state["raced"]:
            state["raced"] = True
            DeltaTableWriter(path).delete_where(spark, "k < 5")
        return orig(self, version, actions, operation)

    w1._commit = types.MethodType(racy, w1)
    with pytest.raises(ConcurrentModificationError, match="OPTIMIZE"):
        w1.optimize(spark, target_files=1)
    # the winner's delete stands
    assert DeltaTableReader(path).to_df(spark).count() == 15


def test_delta_threaded_appenders_all_land(spark, tmp_path):
    path = str(tmp_path / "t")
    DeltaTableWriter(path).create(_df(spark, 0, 1, "base"))
    n_threads, per_thread = 4, 2
    errs = []

    def work(i):
        try:
            for j in range(per_thread):
                lo = 1000 * i + 10 * j
                DeltaTableWriter(path).append(
                    _df(spark, lo, lo + 2, f"t{i}")
                )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    snap = DeltaTableReader(path).snapshot()
    assert snap.version == n_threads * per_thread  # contiguous versions
    df = DeltaTableReader(path).to_df(spark)
    assert df.count() == 1 + n_threads * per_thread * 2
    per_src = {
        r["src"]: r["count"]
        for r in df.groupBy("src").count().collect()
    }
    assert all(per_src[f"t{i}"] == per_thread * 2 for i in range(n_threads))


# ---------------------------------------------------------------------------
# Iceberg
# ---------------------------------------------------------------------------


def test_iceberg_append_retries_past_concurrent_append(spark, tmp_path):
    path = str(tmp_path / "t")
    w1 = IcebergTableWriter(path)
    w1.create(_df(spark, 0, 5, "base"))

    orig = IcebergTableWriter._stage_data_files
    state = {"raced": False}

    def racy_stage(self, df, pcols, part_exprs=None, **kw):
        if not state["raced"]:
            state["raced"] = True
            IcebergTableWriter(path).append(_df(spark, 100, 103, "winner"))
        return orig(self, df, pcols, part_exprs, **kw)

    w1._stage_data_files = types.MethodType(racy_stage, w1)
    sid = w1.append(_df(spark, 10, 14, "loser"))

    assert state["raced"]
    r = IcebergTableReader(path)
    snap = r.snapshot()
    assert snap.snapshot_id == sid  # the retry's snapshot is current
    counts = {
        row["src"]: row["count"]
        for row in r.to_df(spark).groupBy("src").count().collect()
    }
    assert counts == {"base": 5, "winner": 3, "loser": 4}
    # snapshot ids stayed collision-free across the race
    metas = r._metadata()
    sids = [s["snapshot-id"] for s in metas["snapshots"]]
    assert len(sids) == len(set(sids)) == 3


def test_iceberg_delete_conflict_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    w1 = IcebergTableWriter(path)
    w1.create(_df(spark, 0, 20, "base"))

    orig = IcebergTableWriter._write_manifest
    state = {"raced": False}

    def racy_manifest(self, *a, **kw):
        if not state["raced"]:
            state["raced"] = True
            IcebergTableWriter(path).append(_df(spark, 200, 203, "winner"))
        return orig(self, *a, **kw)

    w1._write_manifest = types.MethodType(racy_manifest, w1)
    with pytest.raises(ConcurrentModificationError):
        w1.delete_where(spark, "k < 3")
    # table state is exactly base + winner, no rows deleted
    counts = {
        row["src"]: row["count"]
        for row in IcebergTableReader(path)
        .to_df(spark)
        .groupBy("src")
        .count()
        .collect()
    }
    assert counts == {"base": 20, "winner": 3}


def test_iceberg_merge_rebases_past_concurrent_append(spark, tmp_path):
    """A merge-on-read MERGE reads no table data — its equality delete
    applies to every earlier sequence number — so it rebases over ANY
    data winner: serial order winner-then-merge, the rebased delete
    covers the winner's matching rows too (the Flink-sink upsert
    commit-retry shape)."""
    path = str(tmp_path / "t")
    w1 = IcebergTableWriter(path)
    w1.create(_df(spark, 0, 10, "base"))

    orig = IcebergTableWriter._write_manifest
    state = {"raced": False}

    def racy_manifest(self, *a, **kw):
        if not state["raced"]:
            state["raced"] = True
            # winner's 5,6 overlap the merge batch — still safe for MoR
            IcebergTableWriter(path).append(
                _df(spark, 5, 7, "winner").unionByName(
                    _df(spark, 20, 22, "winner")
                )
            )
        return orig(self, *a, **kw)

    w1._write_manifest = types.MethodType(racy_manifest, w1)
    sid = w1.merge(_df(spark, 4, 7, "upd"), keys=["k"])
    assert state["raced"]
    r = IcebergTableReader(path)
    assert r.snapshot().snapshot_id == sid
    rows = r.to_df(spark).collect()
    by_k = {}
    for row in rows:
        by_k.setdefault(row["k"], []).append(row["src"])
    # exactly one row per key; 4..6 are the merge's (it serialized
    # AFTER the winner, so its delete killed the winner's 5 and 6)
    assert all(len(v) == 1 for v in by_k.values())
    assert by_k[4] == ["upd"] and by_k[5] == ["upd"] and by_k[6] == ["upd"]
    assert by_k[20] == ["winner"] and by_k[21] == ["winner"]
    assert len(rows) == 12  # base 0..3,7..9 + upd 4..6 + winner 20,21


def test_iceberg_threaded_mergers_all_land(spark, tmp_path):
    """Concurrent disjoint-key MoR MERGEs from multiple writers (the
    reference's two-Glue-jobs-one-table deployment) must ALL land via
    rebase, in some serial order, with one row per key."""
    path = str(tmp_path / "t")
    IcebergTableWriter(path).create(_df(spark, 0, 4, "base"))
    n_threads = 3
    errs = []

    def work(i):
        try:
            lo = 100 * (i + 1)
            IcebergTableWriter(path).merge(
                _df(spark, lo, lo + 2, f"t{i}"), keys=["k"]
            )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    r = IcebergTableReader(path)
    df = r.to_df(spark)
    assert df.count() == 4 + n_threads * 2
    metas = r._metadata()
    seqs = [s["sequence-number"] for s in metas["snapshots"]]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs) == 4


def test_iceberg_stale_version_hint_reads_and_commits_at_tip(spark, tmp_path):
    """version-hint.text trails the tip when a writer stalls between
    publishing vN.metadata.json and rewriting the hint, or when two
    writers rewrite it out of order: readers and the next writer must
    still resolve the tip (the threaded mergers above lost a merge, or
    read an empty hint, this way)."""
    path = str(tmp_path / "t")
    IcebergTableWriter(path).create(_df(spark, 0, 4, "base"))
    IcebergTableWriter(path).append(_df(spark, 10, 13, "second"))
    with open(os.path.join(path, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    assert IcebergTableReader(path).to_df(spark).count() == 7
    IcebergTableWriter(path).merge(_df(spark, 20, 22, "third"), keys=["k"])
    assert IcebergTableReader(path).to_df(spark).count() == 9
    assert not [n for n in os.listdir(os.path.join(path, "metadata"))
                if n.endswith(".tmp")]


def test_iceberg_overwrite_partition_rebases_when_disjoint(spark, tmp_path):
    """overwrite_partition validates the winners against the replaced
    partition's live-file set: a winner writing OTHER partitions is
    disjoint and the overwrite rebases; a winner in the SAME partition
    conflicts."""
    path = str(tmp_path / "t")
    w1 = IcebergTableWriter(path)
    base = spark.range(0, 8).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 4, "a").otherwise("b").alias("part"),
        F.lit("base").alias("src"),
    )
    w1.create(base, partition_by=["part"])

    def part_df(part, lo, hi, tag):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.lit(part).alias("part"),
            F.lit(tag).alias("src"),
        )

    orig = IcebergTableWriter._write_manifest
    state = {"raced": False}

    def racy_manifest(self, *a, **kw):
        if not state["raced"]:
            state["raced"] = True
            IcebergTableWriter(path).append(part_df("b", 20, 22, "winner"))
        return orig(self, *a, **kw)

    w1._write_manifest = types.MethodType(racy_manifest, w1)
    w1.overwrite_partition(part_df("a", 100, 102, "ow"), part="a")
    counts = {
        row["src"]: row["count"]
        for row in IcebergTableReader(path)
        .to_df(spark)
        .groupBy("src")
        .count()
        .collect()
    }
    assert counts == {"base": 4, "ow": 2, "winner": 2}

    # same-partition winner: conflict
    state2 = {"raced": False}

    def racy2(self, *a, **kw):
        if not state2["raced"]:
            state2["raced"] = True
            IcebergTableWriter(path).append(part_df("a", 30, 32, "w2"))
        return orig(self, *a, **kw)

    w2 = IcebergTableWriter(path)
    w2._write_manifest = types.MethodType(racy2, w2)
    with pytest.raises(ConcurrentModificationError, match="partition"):
        w2.overwrite_partition(part_df("a", 200, 202, "ow2"), part="a")


def test_iceberg_threaded_appenders_all_land(spark, tmp_path):
    path = str(tmp_path / "t")
    IcebergTableWriter(path).create(_df(spark, 0, 1, "base"))
    n_threads, per_thread = 4, 2
    errs = []

    def work(i):
        try:
            for j in range(per_thread):
                lo = 1000 * i + 10 * j
                IcebergTableWriter(path).append(
                    _df(spark, lo, lo + 2, f"t{i}")
                )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    r = IcebergTableReader(path)
    df = r.to_df(spark)
    assert df.count() == 1 + n_threads * per_thread * 2
    metas = r._metadata()
    # every append produced a distinct snapshot in some serial order,
    # with strictly increasing, collision-free ids and sequence numbers
    sids = [s["snapshot-id"] for s in metas["snapshots"]]
    seqs = [s["sequence-number"] for s in metas["snapshots"]]
    assert len(sids) == len(set(sids)) == 1 + n_threads * per_thread
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


def test_iceberg_metadata_swap_conflict_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    w.create(_df(spark, 0, 5, "base"))
    w.append(_df(spark, 10, 12, "more"))
    prev = w._load_prev()
    # a competitor bumps the version after our read
    w.create_tag("release")
    sid_old = prev["snapshots"][0]["snapshot-id"]
    meta = dict(prev)
    meta.pop("__version", None)
    with pytest.raises(ConcurrentModificationError, match="rollback_to"):
        w._swap_metadata(prev, meta, "rollback_to")
    # table unaffected: tag landed, rollback didn't
    cur = IcebergTableReader(path)._metadata()
    assert "release" in cur["refs"]
    assert cur["current-snapshot-id"] != sid_old


# ---------------------------------------------------------------------------
# Delta SetTransaction (idempotent streaming appends)
# ---------------------------------------------------------------------------


def test_delta_txn_append_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    w = DeltaTableWriter(path)
    w.create(_df(spark, 0, 5, "base"))
    v1 = w.append(_df(spark, 10, 13, "b1"), txn=("job-a", 1))
    # replay of the same batch id: no-op, version unchanged
    v_dup = w.append(_df(spark, 10, 13, "b1"), txn=("job-a", 1))
    assert v_dup == v1
    # a LOWER version (late replay after progress) is also skipped
    w.append(_df(spark, 20, 22, "b2"), txn=("job-a", 2))
    assert w.append(_df(spark, 10, 13, "b1"), txn=("job-a", 1)) == 2
    # a different app id with the same version is independent
    w.append(_df(spark, 30, 32, "other"), txn=("job-b", 1))
    counts = {
        r["src"]: r["count"]
        for r in DeltaTableReader(path)
        .to_df(spark)
        .groupBy("src")
        .count()
        .collect()
    }
    assert counts == {"base": 5, "b1": 3, "b2": 2, "other": 2}
    assert DeltaTableReader(path).snapshot().txns == {"job-a": 2, "job-b": 1}


def test_delta_txn_survives_checkpoint_only_replay(spark, tmp_path):
    path = str(tmp_path / "t")
    w = DeltaTableWriter(path)
    w.create(_df(spark, 0, 2, "base"))
    w.append(_df(spark, 10, 12, "b1"), txn=("stream", 7))
    w.checkpoint()
    # simulate log cleanup: drop every commit JSON covered by the
    # checkpoint — replay must come from the checkpoint alone
    log = os.path.join(path, "_delta_log")
    for n in os.listdir(log):
        if n.endswith(".json") and not n.startswith("_"):
            os.remove(os.path.join(log, n))
    snap = DeltaTableReader(path).snapshot()
    assert snap.txns == {"stream": 7}
    # the restarted stream's duplicate batch is still skipped
    assert w.append(_df(spark, 10, 12, "b1"), txn=("stream", 7)) == snap.version
    assert DeltaTableReader(path).to_df(spark).count() == 4


def test_delta_txn_racing_duplicates_commit_once(spark, tmp_path):
    path = str(tmp_path / "t")
    w1 = DeltaTableWriter(path)
    w1.create(_df(spark, 0, 2, "base"))

    orig = DeltaTableWriter._commit
    state = {"raced": False}

    def racy(self, version, actions, operation="WRITE"):
        if not state["raced"]:
            state["raced"] = True
            # an identical duplicate (same app id + batch version) wins
            # the race while we're mid-commit
            DeltaTableWriter(path).append(
                _df(spark, 10, 13, "b1"), txn=("job", 1)
            )
        return orig(self, version, actions, operation)

    w1._commit = types.MethodType(racy, w1)
    v = w1.append(_df(spark, 10, 13, "b1"), txn=("job", 1))
    assert v == 1  # the winner's commit; loser skipped on re-read
    df = DeltaTableReader(path).to_df(spark)
    assert df.where("src = 'b1'").count() == 3  # NOT 6
    # the loser's staged-but-skipped files were cleaned up, not orphaned
    data_files = [
        os.path.join(dp, n)
        for dp, _, ns in os.walk(path)
        for n in ns
        if n.endswith(".parquet") and "_delta_log" not in dp
    ]
    live = {p for p, _, _ in DeltaTableReader(path).snapshot().files}
    assert set(data_files) == live


def test_delta_threaded_row_tracking_ids_never_overlap(spark, tmp_path):
    """VERDICT r10 item-1 done-criterion, pinned under REAL threads:
    two writers MERGEing disjoint keys into a rowTracking table race
    the commit loop; per-retry re-allocation from the winner's
    high-water mark (_with_row_tracking runs inside each attempt) must
    yield globally unique baseRowId ranges and one coherent
    rowIdHighWaterMark covering every assigned id."""
    import json as _json

    path = str(tmp_path / "t")
    w = DeltaTableWriter(path)
    # base key outside every thread's range: all merge keys INSERT
    w.create(_df(spark, 5000, 5001, "base"))
    w.set_row_tracking(True)
    n_threads, per_thread = 4, 2
    errs = []

    def work(i):
        try:
            for j in range(per_thread):
                lo = 1000 * i + 10 * j
                DeltaTableWriter(path).merge(
                    spark, _df(spark, lo, lo + 3, f"t{i}"), keys=["k"]
                )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=work, args=(i,))
          for i in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    r = DeltaTableReader(path)
    rl = r.row_lineage(spark)
    rows = rl.select("k", "_row_id").collect()
    ids = [x["_row_id"] for x in rows]
    assert None not in ids
    assert len(ids) == len(set(ids)) == 1 + n_threads * per_thread * 3
    dom = (r.snapshot().domains or {})["delta.rowTracking"]
    hwm = _json.loads(dom["configuration"])["rowIdHighWaterMark"]
    assert hwm >= max(ids)


def test_delta_threaded_identity_ids_stay_unique_on_lattice(
    spark, tmp_path
):
    """Two threads appending to an IDENTITY table race the per-attempt
    mark-collision guard (_identity_meta_action): every generated id
    must be globally unique, on the start/step lattice, and the final
    delta.identity.highWaterMark must cover the extreme."""
    import json as _json

    path = str(tmp_path / "t")
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    schema_string = _json.dumps({
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {
                 "delta.identity.start": 10,
                 "delta.identity.step": 2,
                 "delta.identity.allowExplicitInsert": False,
             }},
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "src", "type": "string", "nullable": True,
             "metadata": {}},
        ],
    })
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
            {"metaData": {"id": "t", "format": {
                "provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [], "configuration": {},
                "createdTime": 0}},
        ]:
            f.write(_json.dumps(a) + "\n")
    n_threads, per_thread = 4, 2
    errs = []

    def work(i):
        try:
            for j in range(per_thread):
                lo = 1000 * i + 10 * j
                DeltaTableWriter(path).append(
                    _df(spark, lo, lo + 3, f"t{i}")
                )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=work, args=(i,))
          for i in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    r = DeltaTableReader(path)
    ids = [x["id"] for x in r.to_df(spark).select("id").collect()]
    assert None not in ids
    assert len(ids) == len(set(ids)) == n_threads * per_thread * 3
    assert all(v >= 10 and (v - 10) % 2 == 0 for v in ids)
    hwm = int(
        r.snapshot().schema["id"].metadata["delta.identity.highWaterMark"]
    )
    assert hwm == max(ids)


def test_delta_nmbs_merge_conflicts_with_any_concurrent_add(
    spark, tmp_path
):
    """A three-clause MERGE (WHEN NOT MATCHED BY SOURCE) read the WHOLE
    table: even a key-range-DISJOINT winner add would have been an
    unmatched row the clause should have processed — the rebase that a
    plain merge takes must instead surface a conflict (delta-spark's
    rule for three-clause merges)."""
    path = str(tmp_path / "t")
    w1 = DeltaTableWriter(path)
    w1.create(_df(spark, 0, 20, "base"))

    orig = DeltaTableWriter._stage_files
    state = {"raced": False}

    def racy_stage(self, df, partition_by, cdc=False):
        if not state["raced"]:
            state["raced"] = True
            # DISJOINT keys 200.. — a plain merge would rebase past it
            DeltaTableWriter(path).append(_df(spark, 200, 203, "winner"))
        return orig(self, df, partition_by, cdc=cdc)

    w1._stage_files = types.MethodType(racy_stage, w1)
    with pytest.raises(ConcurrentModificationError, match="MERGE"):
        w1.merge(
            spark, _df(spark, 0, 3, "upd"), keys=["k"],
            not_matched_by_source="delete",
            not_matched_by_source_condition="k >= 10",
        )
    # no partial commit: winner intact, victim's delete never applied
    rows = DeltaTableReader(path).to_df(spark).groupBy(
        "src").count().collect()
    assert {r["src"]: r["count"] for r in rows} == {
        "base": 20, "winner": 3
    }


def test_iceberg_nmbs_merge_refuses_rebase(spark, tmp_path):
    """Iceberg three-clause MERGE: a lost version race refuses to
    rebase (the equality-delete set was computed from a whole-table
    scan a concurrent commit invalidates), where a plain MoR merge
    rebases freely."""
    path = str(tmp_path / "i")
    w = IcebergTableWriter(path)
    w.create(_df(spark, 0, 20, "base"))

    from aws_glue_data_lake_spark.icebergcompat import (
        ConcurrentModificationError as IceConflict,
    )

    orig = IcebergTableWriter._write_manifest
    state = {"raced": False}

    def racy_manifest(self, *a, **kw):
        if not state["raced"]:
            state["raced"] = True
            IcebergTableWriter(path).append(_df(spark, 200, 203, "win"))
        return orig(self, *a, **kw)

    w._write_manifest = types.MethodType(racy_manifest, w)
    with pytest.raises(IceConflict, match="NOT MATCHED BY SOURCE"):
        w.merge(
            _df(spark, 0, 3, "upd"), keys=["k"],
            not_matched_by_source="delete",
            not_matched_by_source_condition="k >= 10",
        )
    rows = IcebergTableReader(path).to_df(spark).groupBy(
        "src").count().collect()
    assert {r["src"]: r["count"] for r in rows} == {
        "base": 20, "win": 3
    }


# ---------------------------------------------------------------------------
# run_jobs — the §2.6 overlap helper the staging writes go through
# ---------------------------------------------------------------------------


def test_run_jobs_preserves_order_and_results(spark):
    from aws_glue_data_lake_spark.concurrency import run_jobs

    a, b, c = run_jobs(
        lambda: spark.range(10).count(),
        lambda: "plain",
        lambda: spark.range(3).count(),
    )
    assert (a, b, c) == (10, "plain", 3)


def test_run_jobs_single_thunk_falls_through(spark):
    from aws_glue_data_lake_spark.concurrency import run_jobs

    assert run_jobs(lambda: 42) == [42]


def test_run_jobs_propagates_exception_after_all_finish(spark):
    from aws_glue_data_lake_spark.concurrency import run_jobs

    done = {"other": False}

    def ok():
        done["other"] = True
        return 1

    def boom():
        raise ValueError("staging failed")

    with pytest.raises(ValueError, match="staging failed"):
        run_jobs(boom, ok)
    # the sibling thunk ran to completion (its staged side effects are
    # in a unique dir the failed commit never consumes)
    assert done["other"]


def test_run_jobs_no_thunks_is_empty():
    from aws_glue_data_lake_spark.concurrency import run_jobs

    assert run_jobs() == []


def test_run_jobs_tag_propagation_failure_raises(spark, monkeypatch):
    from aws_glue_data_lake_spark import concurrency

    def broken(session):
        raise RuntimeError("cannot wrap for tag propagation")

    monkeypatch.setattr(concurrency, "inheritable_thread_target", broken)
    ran = []
    with pytest.raises(RuntimeError, match="tag propagation"):
        concurrency.run_jobs(lambda: ran.append(1), lambda: ran.append(2))
    assert ran == []  # nothing ran untagged


def test_run_jobs_nested_keeps_session_tags(spark):
    import warnings

    from aws_glue_data_lake_spark.concurrency import run_jobs

    def inner():
        return run_jobs(spark.getTags, spark.getTags)

    spark.addTag("outer-caller")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            nested = run_jobs(inner, inner)
    finally:
        spark.removeTag("outer-caller")
    assert all("outer-caller" in tags for pair in nested for tags in pair)
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


def test_delta_merge_cdf_staged_concurrently_matches_content(
    spark, tmp_path
):
    """CDF content written by the concurrent cdc ∥ rewrite staging is
    the same row-level delta the sequential path produced."""
    path = str(tmp_path / "t")
    w = DeltaTableWriter(path)
    w.create(_df(spark, 0, 10, "base"))
    w.set_change_data_feed(True)
    w.merge(spark, _df(spark, 5, 15, "new"), keys=["k"])
    r = DeltaTableReader(path)
    cdf = r.changes(spark, starting_version=2, ending_version=2)
    by_type = {
        row["_change_type"]: row["n"]
        for row in cdf.groupBy("_change_type").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert by_type == {
        "update_preimage": 5,
        "update_postimage": 5,
        "insert": 5,
    }
    rows = r.to_df(spark).groupBy("src").count().collect()
    assert {x["src"]: x["count"] for x in rows} == {"base": 5, "new": 10}
