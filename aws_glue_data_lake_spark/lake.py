"""Minimal versioned-manifest lake-table layer (SURVEY.md §2 sinks tier 2).

The reference gets row-level upserts, snapshot isolation, and time travel
from table formats (Iceberg format-version-2 row-level deletes,
icberg/iceberg_tables.py:37,112; the Delta transaction log,
delta/delta_tables.py:8,88,159-160). Those jars are scoped out of this
build, so this module reproduces the *protocol* on plain Parquet + JSON,
the way Delta's log and Iceberg's manifests do it:

- ``<table>/data/*.parquet``      — immutable data files, never edited;
- ``<table>/_manifests/v{N}.json``— snapshot N: the exact file list plus
                                    per-file row counts and key min/max
                                    stats (read from Parquet footers —
                                    no Spark job);
- ``<table>/_latest``             — current-version HINT for humans/tools,
                                    swapped with ``os.replace``; never
                                    authoritative.

Commit protocol (optimistic concurrency, Delta-style): a writer computes
its snapshot against version N and creates ``v{N+1}.json`` with
O_EXCL — if another writer committed N+1 first, the create fails and the
loser gets ``CommitConflict`` instead of silently clobbering (the
check-then-write race the reference's plain ``saveAsTable`` path has).

The manifest listing is the SINGLE source of truth for the current
version (exactly how Delta derives state from LIST of _delta_log): the
O_EXCL manifest create IS the commit, so a writer that dies between that
create and the ``_latest`` swap has still committed — readers, vacuum,
and later commits all agree because they all take max(v*.json), and the
stale pointer can neither lose the snapshot nor wedge future commits.

Row-level upsert is copy-on-write at FILE granularity (Iceberg v2's eager
strategy): the batch's key range is intersected with each file's footer
min/max stats, only overlapping files are read+rewritten, and every other
file is carried into the new manifest untouched. Per-batch I/O is
O(batch + affected files), not O(table) — the property
``streaming_cdc_upsert_state`` needs at 100 TB, where a micro-batch
touches a handful of recent partitions out of millions of files.

Time travel: ``read(spark, version=K)`` plans the scan from snapshot K's
file list; nothing is ever deleted by commits, so every snapshot stays
readable until ``vacuum()`` (which drops files unreferenced by kept
manifests — same contract as Delta VACUUM).

Scale notes (100 TB): the manifest is JSON on the driver, fine to ~10^5
files; past that Iceberg splits manifests per partition-subtree — the
same sharding applies here (manifest-of-manifests) without changing the
commit protocol. File pruning uses footer stats exactly like engine-side
min/max pruning; the data plane stays entirely in Spark.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import urllib.parse
import uuid
from dataclasses import dataclass
from typing import Sequence

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(Exception):
    """Another writer committed the same version first; reload and retry."""


class ConstraintViolation(Exception):
    """A write batch (or existing data, when adding a constraint) contains
    rows that fail a CHECK constraint."""


class NoSuchTable(Exception):
    pass


def _json_safe(v):
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return str(v)


def _footer_stats(path: str, stat_cols: Sequence[str]) -> dict:
    """Per-file min/max for ``stat_cols`` + row count, straight from the
    Parquet footer — a metadata read, no data I/O."""
    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {"rows": md.num_rows, "stats": {}}
    for col in stat_cols:
        idx = names.get(col)
        if idx is None:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out["stats"][col] = [_json_safe(lo), _json_safe(hi)]
    return out


@dataclass(frozen=True)
class Snapshot:
    version: int
    files: list[dict]  # {"path": rel, "rows": n, "stats": {col: [lo, hi]},
    # "partition": {col: "value"} when the table is partitioned}
    schema: str  # DDL string
    op: str
    parent: int | None
    txn: dict | None = None  # {"writer_id": str, "batch_id": int} for
    # idempotent streaming appends
    partition_by: tuple[str, ...] = ()
    txns: dict | None = None  # cumulative {writer_id: max committed
    # batch_id}, carried forward commit-to-commit so vacuuming old
    # manifests never forgets replay-dedup state (Delta keeps the same
    # state in checkpoints)
    constraints: dict | None = None  # {name: boolean SQL} CHECK
    # constraints, enforced on every write path and carried forward
    # commit-to-commit

    @property
    def file_names(self) -> list[str]:
        return [f["path"] for f in self.files]

    @property
    def dv_paths(self) -> list[str]:
        """Deletion-vector sidecar files referenced by this snapshot."""
        return sorted({f["dv"]["path"] for f in self.files if f.get("dv")})


class LakeTable:
    """A versioned Parquet table rooted at ``path``. All mutations commit a
    new immutable snapshot; readers pin a snapshot and never see partial
    writes."""

    def __init__(self, path: str):
        self.path = path
        self._data = os.path.join(path, "data")
        self._manifests = os.path.join(path, "_manifests")
        self._latest = os.path.join(path, "_latest")

    # -- snapshot plumbing --------------------------------------------------
    _MANIFEST_NAME = re.compile(r"^v(\d+)\.json$")

    def _manifest_versions(self) -> list[int]:
        # Strict-match the basename: a stray file that happens to glob
        # (v2.json.bak copied to v2.json.json, a hand-dropped vNOTES.json)
        # must be ignored, not brick every table operation with ValueError.
        out = []
        for p in glob.glob(os.path.join(self._manifests, "v*.json")):
            m = self._MANIFEST_NAME.match(os.path.basename(p))
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def exists(self) -> bool:
        return bool(self._manifest_versions())

    def current_version(self) -> int:
        """Max committed manifest version. The listing — not the
        ``_latest`` pointer — is authoritative: the O_EXCL manifest create
        is the commit point, so a writer that crashed before swapping the
        pointer has still committed, and trusting the pointer would make
        vacuum delete the snapshot the pointer names (data loss) and wedge
        every later commit in permanent CommitConflict."""
        versions = self._manifest_versions()
        if not versions:
            raise NoSuchTable(self.path)
        return versions[-1]

    #: Write a FULL (checkpoint) manifest at least every K commits; in
    #: between, manifests carry only the commit's add/remove DELTA. This
    #: bounds commit write-amplification at O(changed files) instead of
    #: O(table files) — the Delta-log checkpoint structure — while
    #: snapshot load stays O(current files + K·delta).
    _CHECKPOINT_EVERY = 20

    def _load_manifest(self, v: int) -> dict:
        mpath = os.path.join(self._manifests, f"v{v}.json")
        if not os.path.exists(mpath):
            raise NoSuchTable(f"{self.path} has no snapshot v{v}")
        with open(mpath) as f:
            return json.load(f)

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        # Walk the parent chain back to the nearest FULL manifest, then
        # replay the delta manifests forward. The checkpoint cadence
        # bounds the chain at _CHECKPOINT_EVERY; vacuum materializes any
        # kept manifest whose ancestors it drops, so the chain never
        # crosses a vacuumed version.
        chain: list[dict] = []
        cur = v
        while True:
            m = self._load_manifest(cur)
            chain.append(m)
            if "files" in m:
                break
            cur = m.get("parent")
            if cur is None:
                raise NoSuchTable(
                    f"{self.path} v{v}: delta manifest chain has no "
                    "full ancestor (corrupt log)"
                )
        filemap = {e["path"]: e for e in chain[-1]["files"]}
        for m in reversed(chain[:-1]):
            for p in m.get("removes", ()):
                filemap.pop(p, None)
            for e in m.get("adds", ()):
                filemap.pop(e["path"], None)  # rewrite lands at the end
                filemap[e["path"]] = e
        tip = chain[0]
        return Snapshot(
            version=tip["version"],
            files=list(filemap.values()),
            schema=tip["schema"],
            op=tip["op"],
            parent=tip.get("parent"),
            txn=tip.get("txn"),
            partition_by=tuple(tip.get("partition_by", ())),
            txns=tip.get("txns"),
            constraints=tip.get("constraints"),
        )

    def history(self) -> list[Snapshot]:
        return [self.snapshot(v) for v in self._manifest_versions()]

    def _commit(self, files: list[dict], schema: str, op: str,
                prev: Snapshot | None, txn: dict | None = None,
                partition_by: Sequence[str] = (),
                constraints: dict | None = None) -> Snapshot:
        """``prev`` is the parent snapshot the caller already holds (None
        for the initial commit) — passing it avoids re-reading and
        re-parsing the whole parent manifest (O(#files) JSON) just to
        carry the txns map forward."""
        parent = None if prev is None else prev.version
        version = 1 if parent is None else parent + 1
        os.makedirs(self._manifests, exist_ok=True)
        manifest = {
            "version": version,
            "schema": schema,
            "op": op,
            "parent": parent,
        }
        # Delta vs full (checkpoint) form: diff against the parent's file
        # set by path. A changed entry (same path, new stats/DV) is a
        # remove+add. Full manifests land on the checkpoint cadence or
        # when the delta wouldn't actually be smaller.
        if prev is not None and version % self._CHECKPOINT_EVERY != 0:
            prev_by_path = {e["path"]: e for e in prev.files}
            new_by_path = {e["path"]: e for e in files}
            adds = [
                e for e in files
                if prev_by_path.get(e["path"]) != e
            ]
            removes = [p for p in prev_by_path if p not in new_by_path]
            if len(adds) + len(removes) < len(files):
                manifest["adds"] = adds
                manifest["removes"] = removes
            else:
                manifest["files"] = files
        else:
            manifest["files"] = files
        # Cumulative per-writer txn state rides in EVERY manifest so that
        # vacuuming old manifests can't forget it (a replayed micro-batch
        # older than the retained snapshots must still be detected).
        txns: dict = {}
        if prev is not None:
            if prev.txns is None and prev.parent is not None:
                # One-time upgrade of a pre-carry-forward manifest chain:
                # fold EVERY historical txn record into the map, not just
                # the chain tip's. Seeding from the tip alone would drop
                # replay-dedup state for any stream writer whose last
                # commit isn't the most recent one, and the history
                # fallback in last_committed_batch stops applying the
                # moment this commit lands (it requires txns is None) —
                # a replayed micro-batch would then re-append.
                for s in self.history():
                    if s.version > prev.version:
                        continue
                    t = s.txn or {}
                    if "writer_id" in t:
                        w, b = t["writer_id"], t["batch_id"]
                        txns[w] = max(b, txns.get(w, b))
            else:
                txns.update(prev.txns or {})
                if prev.txn:  # single-record manifests (v1 or legacy tip)
                    w = prev.txn["writer_id"]
                    b = prev.txn["batch_id"]
                    txns[w] = max(b, txns.get(w, b))
        if txn is not None:
            w, b = txn["writer_id"], txn["batch_id"]
            txns[w] = max(b, txns.get(w, b))
            manifest["txn"] = txn
        # ALWAYS write the cumulative map — even empty. An absent key reads
        # back as txns=None, which re-triggers the one-time legacy-upgrade
        # history walk above on EVERY subsequent commit of a table that has
        # never seen a stream writer: O(V) manifest loads per commit, O(V²)
        # across a long history (found by scripts/manifest_probe.py at 1k
        # commits). The empty map is the "already upgraded" marker.
        manifest["txns"] = txns
        if partition_by:
            manifest["partition_by"] = list(partition_by)
        # CHECK constraints ride every manifest (carried forward unless
        # this commit explicitly replaces them)
        eff_constraints = (
            constraints
            if constraints is not None
            else (prev.constraints if prev is not None else None)
        )
        if eff_constraints:
            manifest["constraints"] = eff_constraints
        mpath = os.path.join(self._manifests, f"v{version}.json")
        try:
            # O_EXCL create IS the commit: exactly one writer wins v{N}.
            with open(mpath, "x") as f:
                json.dump(manifest, f, indent=1)
        except FileExistsError:
            raise CommitConflict(
                f"version {version} of {self.path} was committed concurrently"
            ) from None
        tmp = self._latest + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._latest)
        return self.snapshot(version)

    # -- data-file plumbing -------------------------------------------------
    def _write_files(
        self,
        df: DataFrame,
        stat_cols: Sequence[str],
        partition_by: Sequence[str] = (),
    ) -> list[dict]:
        """Write ``df`` through Spark into immutable uniquely-named data
        files under data/ (Hive-style ``col=value`` subdirs when the table
        is partitioned), returning manifest entries with footer stats and
        partition values."""
        os.makedirs(self._data, exist_ok=True)
        stage = os.path.join(self.path, f"_stage_{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            # v1 committer for fan-out stages (see deltacompat._stage_files:
            # v2's per-file task-commit renames lose to v1's dir merge when
            # one task commits many Hive dirs).
            writer = writer.partitionBy(*partition_by).option(
                "mapreduce.fileoutputcommitter.algorithm.version", "1"
            )
        writer.parquet(stage)
        entries = []
        for src in sorted(
            glob.glob(os.path.join(stage, "**", "part-*.parquet"), recursive=True)
        ):
            rel_dir = os.path.relpath(os.path.dirname(src), stage)
            # Spark percent-escapes special characters (space, '/', '=',
            # ':') in Hive-style partition path segments; the manifest
            # records the REAL value so read(partition_filter=...) compares
            # against what the user wrote, not the escaped form.
            partition = {
                k: urllib.parse.unquote(v)
                for k, v in (
                    seg.split("=", 1)
                    for seg in (rel_dir.split(os.sep) if rel_dir != "." else [])
                )
            }
            name = f"{uuid.uuid4().hex}.parquet"
            rel = os.path.join(
                "data", *(rel_dir.split(os.sep) if rel_dir != "." else []), name
            )
            dst = self._abs(rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(src, dst)
            info = _footer_stats(dst, stat_cols)
            if info["rows"] == 0:
                os.remove(dst)
                continue
            entry = {"path": rel, "rows": info["rows"], "stats": info["stats"]}
            if partition:
                entry["partition"] = partition
            entries.append(entry)
        shutil.rmtree(stage, ignore_errors=True)
        return entries

    def _abs(self, rel: str) -> str:
        # absolute entries are foreign references (shallow clones hold
        # them — see clone_to); they resolve as-is
        return rel if os.path.isabs(rel) else os.path.join(self.path, rel)

    # -- public API ---------------------------------------------------------
    def create(
        self,
        df: DataFrame,
        stat_cols: Sequence[str] = (),
        partition_by: Sequence[str] = (),
    ) -> Snapshot:
        """CTAS: snapshot v1. ``stat_cols`` selects the columns whose
        min/max land in the manifest for upsert-time file pruning (the
        merge keys, typically); ``partition_by`` lays files out in
        Hive-style value subdirs and records per-file partition values in
        the manifest for read-side partition pruning."""
        if self.exists():
            raise FileExistsError(f"lake table already exists: {self.path}")
        files = self._write_files(df, stat_cols, partition_by)
        return self._commit(
            files, df._jdf.schema().toDDL(), "create", None,
            partition_by=partition_by,
        )

    def _check_constraints(self, df: DataFrame, prev: Snapshot) -> None:
        """Write-side CHECK enforcement (Delta table constraints): ONE
        validation pass counts violations of every constraint at once; a
        nonzero count rejects the whole batch before any file lands."""
        from pyspark.sql import functions as F

        cons = prev.constraints or {}
        if not cons:
            return
        counts = df.agg(
            *[
                F.sum((~F.expr(sql)).cast("long")).alias(name)
                for name, sql in sorted(cons.items())
            ]
        ).first()
        bad = {n: int(counts[n] or 0) for n in cons if counts[n]}
        if bad:
            raise ConstraintViolation(
                f"batch rejected: CHECK constraint violations {bad}"
            )

    def add_check_constraint(
        self, spark: SparkSession, name: str, sql: str
    ) -> Snapshot:
        """Register a CHECK constraint — after proving the EXISTING table
        state satisfies it (one scan; a constraint the data already
        violates is rejected, as in Delta ALTER TABLE ADD CONSTRAINT).
        Commits a data-unchanged snapshot carrying the new constraint."""
        from pyspark.sql import functions as F

        prev = self.snapshot()
        n_bad = (
            self.read(spark).where(~F.expr(sql)).limit(1).count()
        )
        if n_bad:
            raise ConstraintViolation(
                f"existing rows violate CHECK {name!r}: {sql}"
            )
        cons = dict(prev.constraints or {})
        cons[name] = sql
        return self._commit(
            prev.files, prev.schema, f"add-constraint:{name}", prev,
            partition_by=prev.partition_by, constraints=cons,
        )

    def drop_check_constraint(self, name: str) -> Snapshot:
        prev = self.snapshot()
        cons = dict(prev.constraints or {})
        cons.pop(name, None)
        return self._commit(
            prev.files, prev.schema, f"drop-constraint:{name}", prev,
            partition_by=prev.partition_by, constraints=cons,
        )

    @staticmethod
    def _check_schema(df: DataFrame, prev: Snapshot) -> None:
        """Schema enforcement on the write path (Delta's write-side
        contract): a batch whose schema differs from the table's is
        rejected at commit time, not discovered by a reader later. Schema
        evolution is an explicit operation (create a new table / migrate),
        never an accident of one append."""
        from pyspark.sql.types import StructType

        def shape(st) -> list[tuple[str, str]]:
            # names + types; nullability is ignored (parquet round-trips
            # don't preserve it, so it can't be part of the contract)
            return [(f.name.lower(), f.dataType.simpleString()) for f in st.fields]

        table_st = StructType.fromDDL(prev.schema)
        if shape(df.schema) != shape(table_st):
            raise ValueError(
                f"schema mismatch: table has [{prev.schema}], "
                f"batch has [{df._jdf.schema().toDDL()}]"
            )

    def append(
        self,
        df: DataFrame,
        stat_cols: Sequence[str] = (),
        merge_schema: bool = False,
    ) -> Snapshot:
        """Blind append: new files + prior file list, one new snapshot.
        Never reads existing data.

        ``merge_schema=True`` is the explicit schema-evolution path
        (Delta's mergeSchema / the DynamicFrame union-widening the
        reference leans on, icberg/iceberg_tables.py:23): columns the
        batch adds are appended to the table schema, columns the batch
        omits are filled with NULLs, and existing columns must keep their
        types. Old data files are untouched — readers surface NULL for
        the added columns because scans plan with the manifest schema."""
        prev = self.snapshot()
        if merge_schema:
            df, schema = self._evolve(df, prev)
        else:
            self._check_schema(df, prev)
            schema = prev.schema
        self._check_constraints(df, prev)
        files = self._write_files(
            df, stat_cols or self._stat_cols(prev), prev.partition_by
        )
        return self._commit(
            prev.files + files, schema, "append", prev,
            partition_by=prev.partition_by,
        )

    @staticmethod
    def _evolve(df: DataFrame, prev: Snapshot) -> tuple[DataFrame, str]:
        """Union-widen the batch against the table schema: table columns
        first (missing ones NULL-filled), genuinely new columns appended;
        a type change on an existing column is rejected (that's a
        migration, not evolution)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        table_st = StructType.fromDDL(prev.schema)
        table_by_name = {f.name.lower(): f for f in table_st.fields}
        batch_by_name = {f.name.lower(): f for f in df.schema.fields}
        for name, f in batch_by_name.items():
            old = table_by_name.get(name)
            if old is not None and (
                old.dataType.simpleString() != f.dataType.simpleString()
            ):
                raise ValueError(
                    f"schema evolution cannot change column {f.name!r}: "
                    f"table has {old.dataType.simpleString()}, batch has "
                    f"{f.dataType.simpleString()}"
                )
        merged = list(table_st.fields) + [
            f for f in df.schema.fields if f.name.lower() not in table_by_name
        ]
        cols = [
            F.col(batch_by_name[f.name.lower()].name).alias(f.name)
            if f.name.lower() in batch_by_name
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in merged
        ]
        out = df.select(*cols)
        return out, out._jdf.schema().toDDL()

    def last_committed_batch(self, writer_id: str) -> int | None:
        """Highest micro-batch id this writer has committed (Delta's txn
        appId/version pattern). Read from the CURRENT manifest's cumulative
        ``txns`` map — one JSON read, and immune to vacuum dropping old
        manifests. Legacy chains without the map fall back to a history
        scan."""
        if not self.exists():
            return None
        snap = self.snapshot()
        best = (snap.txns or {}).get(writer_id)
        txn = snap.txn or {}
        if txn.get("writer_id") == writer_id:
            b = txn.get("batch_id")
            best = b if best is None else max(best, b)
        if best is None and snap.txns is None and snap.parent is not None:
            for s in self.history():
                t = s.txn or {}
                if t.get("writer_id") == writer_id:
                    b = t.get("batch_id")
                    best = b if best is None else max(best, b)
        return best

    def append_stream_batch(
        self,
        df: DataFrame,
        writer_id: str,
        batch_id: int,
        stat_cols: Sequence[str] = (),
    ) -> Snapshot | None:
        """Idempotent foreachBatch append: Structured Streaming replays a
        micro-batch after a failure, so a plain append would duplicate
        rows. The (writer_id, batch_id) pair rides in the manifest; a
        replayed batch is detected and skipped, upgrading at-least-once
        delivery to exactly-once table contents — the same transactional
        dedup Delta's ``txnAppId``/``txnVersion`` options provide.
        Returns None when the batch was already committed."""
        last = self.last_committed_batch(writer_id)
        if last is not None and batch_id <= last:
            return None
        prev = self.snapshot()
        self._check_schema(df, prev)
        self._check_constraints(df, prev)
        files = self._write_files(
            df, stat_cols or self._stat_cols(prev), prev.partition_by
        )
        return self._commit(
            prev.files + files, prev.schema, "append", prev,
            txn={"writer_id": writer_id, "batch_id": batch_id},
            partition_by=prev.partition_by,
        )

    def upsert(
        self,
        upserts: DataFrame,
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
    ) -> Snapshot:
        """Row-level MERGE, copy-on-write at file granularity.

        ``matched_clauses`` switches the matched leg to the chained
        conditional form (operators/mergeclauses.py, shared with the
        Delta/Iceberg writers): ordered ``("update", cond, set)`` /
        ``("delete", cond)`` clauses, first-match-wins per matched row,
        unmatched-by-any-clause rows carried unchanged; conditions/SET
        expressions reference ``t.<col>`` / ``s.<col>``. With clauses,
        ``not_matched_insert=False`` drops the insert leg and
        ``not_matched_condition`` (bare source columns) gates it.

        Semantics (matches operators/cdc.py's anti-join∪append rewrite and
        therefore the reference's MERGE): every target row whose key
        appears in ``delete_keys`` OR in the upsert batch is removed, then
        ``upserts`` rows are inserted. The union is load-bearing: driving
        the anti-join from ``delete_keys`` alone would leave stale copies
        of keys that are upserted but not listed for delete — silent
        duplicate keys for any caller whose delete set doesn't cover the
        batch.

        Only files whose footer key-range overlaps the batch's key-range
        are rewritten; the rest are carried by reference. The scan of
        affected files + the batch is the entire I/O bill.
        ``key_bounds`` (``{key: (lo, hi)}`` over the upsert and delete
        keys, as ``operators.mergeclauses.key_bounds`` returns them)
        skips the bounds aggregate this method otherwise runs on the
        batch.
        """
        prev = self.snapshot()
        schema = prev.schema
        if merge_schema:
            # Delta's mergeSchema-on-MERGE: union-widen the batch against
            # the table schema (new columns appended, table columns
            # NULL-filled in the batch). Carried untouched files surface
            # NULL for the added columns at read time — the declared-
            # schema read (_read_files) makes the widen metadata-only for
            # every file this commit doesn't rewrite.
            upserts, schema = self._evolve(upserts, prev)
            evolved = Snapshot(
                version=prev.version, files=prev.files, schema=schema,
                op=prev.op, parent=prev.parent, txn=prev.txn,
                partition_by=prev.partition_by, txns=prev.txns,
                constraints=prev.constraints,
            )
        elif matched_clauses is not None:
            # clause mode tolerates EXTRA source columns (expression-
            # only routing columns like a CDC Op flag) and sparse
            # sources (SET * falls back to the target value; inserts
            # NULL-pad): only overlapping columns' TYPES are enforced;
            # extras never land (the clause output projects to the
            # table schema below)
            from pyspark.sql.types import StructType as _St

            tmap = {
                f.name.lower(): f.dataType.simpleString()
                for f in _St.fromDDL(prev.schema).fields
            }
            for f in upserts.schema.fields:
                want = tmap.get(f.name.lower())
                if want is not None and \
                        f.dataType.simpleString() != want:
                    raise ValueError(
                        f"column {f.name!r} type mismatch: table has "
                        f"{want}, batch has "
                        f"{f.dataType.simpleString()}"
                    )
            evolved = prev
        else:
            self._check_schema(upserts, prev)
            evolved = prev
        self._check_constraints(upserts, prev)
        from pyspark.sql import functions as F

        spark = upserts.sparkSession
        mc = None
        nmc = None
        if (
            matched_clauses is not None
            or not_matched_set
            or not_matched_clauses is not None
        ):
            from pyspark.sql.types import StructType as _St

            from aws_glue_data_lake_spark.operators import (
                mergeclauses as _mcm,
            )

            nmc = _mcm.resolve_not_matched(
                not_matched_clauses,
                not_matched_insert,
                not_matched_condition,
                not_matched_set,
                _St.fromDDL(schema).fieldNames(),
                matched_clauses,
            )
            mc = _mcm.validate_matched_clauses(
                matched_clauses, _St.fromDDL(schema).fieldNames()
            )
            if delete_keys is not None:
                raise ValueError(
                    "matched_clauses and delete_keys cannot combine — "
                    "express the delete leg as a ('delete', cond) clause"
                )
        else:
            if not not_matched_insert:
                raise ValueError(
                    "not_matched_insert=False requires matched_clauses"
                )
            if not_matched_condition:
                raise ValueError(
                    "not_matched_condition requires matched_clauses"
                )
        kill = upserts.select(*keys)
        if delete_keys is not None:
            kill = kill.unionByName(delete_keys.select(*keys))
        if key_bounds is None:
            from aws_glue_data_lake_spark.operators import (
                mergeclauses as _mcb,
            )

            _n, key_bounds = _mcb.key_bounds(kill, keys)
        # kill feeds only left_anti joins, where repeated keys cannot
        # change the output, so it is not de-duplicated
        affected, untouched = self._split_by_key_range(
            prev, key_bounds, keys
        )
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
        from pyspark.sql.types import StructType as _StN

        from aws_glue_data_lake_spark.operators import (
            mergeclauses as _mcmn,
        )

        nmbs = _mcmn.normalize_nmbs(
            not_matched_by_source,
            not_matched_by_source_condition,
            not_matched_by_source_set,
            not_matched_by_source_clauses,
            _StN.fromDDL(schema).fieldNames(),
        )
        if nmbs and untouched:
            # the third clause can touch ANY file: one probe scan over
            # the carried set finds files holding an eligible unmatched
            # row — only those move into the rewrite set (delta-spark
            # pays the same full scan for its three-clause merge)
            probe = self._read_files(
                spark,
                [f["path"] for f in untouched],
                evolved,
                with_name=True,
            )
            elig = {
                row["__fp"]
                for row in probe.join(kill, on=list(keys), how="left_anti")
                .where(_mcmn.nmbs_any_hit(nmbs))
                .select("__fp")
                .distinct()
                .collect()
            }
            moved = [
                f
                for f in untouched
                if os.path.basename(f["path"]) in elig
            ]
            if moved:
                affected = affected + moved
                keep = {id(f) for f in moved}
                untouched = [
                    f for f in untouched if id(f) not in keep
                ]

        def apply_nmbs(df: DataFrame) -> DataFrame:
            if not nmbs:
                return df
            df2 = df.withColumn(
                _mcmn.ACTION, _mcmn.action_col(nmbs)
            ).where(~_mcmn.deleted_flag(nmbs))
            return df2.select(
                *[_mcmn.nmbs_out_value(nmbs, c) for c in df.columns]
            )

        stat_cols = sorted({*keys, *self._stat_cols(prev)})
        new_files: list[dict] = []
        if mc is not None:
            from pyspark.sql.types import StructType as _St

            from aws_glue_data_lake_spark.operators import (
                mergeclauses as _mcm,
            )

            st = _St.fromDDL(schema)
            if affected:
                live = self._read_files(
                    spark, [f["path"] for f in affected], evolved
                )
                jc = F.lit(True)
                for k in keys:
                    jc = jc & (F.col(f"t.{k}") == F.col(f"s.{k}"))
                matched = (
                    live.alias("t")
                    .join(upserts.alias("s"), jc, "inner")
                    .withColumn(_mcm.ACTION, _mcm.action_col(mc))
                )
                matched_out = matched.where(
                    ~_mcm.deleted_flag(mc)
                ).select(
                    *[
                        _mcm.out_value(
                            mc, f.name, f.dataType, upserts.columns
                        )
                        for f in st.fields
                    ]
                )
                kept = apply_nmbs(
                    live.join(kill, on=list(keys), how="left_anti")
                )
                ins = upserts.join(
                    live.select(*keys).dropDuplicates(list(keys)),
                    on=list(keys),
                    how="left_anti",
                )
            else:
                matched_out = kept = None
                ins = upserts
            if not_matched_condition:
                ins = ins.where(F.expr(not_matched_condition))
            if not not_matched_insert:
                ins = ins.limit(0)
            if nmc:
                # chained not-matched clauses: first-match-wins per
                # unmatched source row; no match -> no insert
                ins = (
                    ins.withColumn(
                        _mcm.ACTION, _mcm.not_matched_action_col(nmc)
                    )
                    .where(F.col(_mcm.ACTION) >= 0)
                    .select(
                        *_mcm.not_matched_projection(
                            nmc, st.fields, upserts.columns
                        )
                    )
                )
            elif not_matched_set:
                ins = ins.select(
                    *_mcm.insert_projection(not_matched_set, st.fields)
                )
            parts = [
                p for p in (kept, matched_out) if p is not None
            ] + [ins]
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p, allowMissingColumns=True)
            merged = merged.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in merged.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in st.fields
                ]
            )
            if prev.constraints:
                # clause SETs / column-list inserts synthesize values
                # the raw batch never held — validate the FINAL rows
                self._check_constraints(merged, prev)
            new_files = self._write_files(
                merged, stat_cols, prev.partition_by
            )
        elif affected:
            # read affected files under the (possibly evolved) schema so
            # kept rows union cleanly with the widened batch
            live = self._read_files(spark, [f["path"] for f in affected], evolved)
            kept = apply_nmbs(
                live.join(kill, on=list(keys), how="left_anti")
            )
            merged = kept.unionByName(upserts, allowMissingColumns=False)
            if any(cl[0] == "update" for cl in (nmbs or ())) \
                    and prev.constraints:
                # NMBS UPDATE assignments synthesize values the batch
                # never held — validate the final rows too
                self._check_constraints(merged, prev)
            new_files = self._write_files(merged, stat_cols, prev.partition_by)
        else:
            new_files = self._write_files(upserts, stat_cols, prev.partition_by)
        return self._commit(
            untouched + new_files, schema, "upsert", prev,
            partition_by=prev.partition_by,
        )

    def merge(
        self,
        source: DataFrame,
        keys: Sequence[str],
        update: dict | None = None,
        insert: bool = True,
    ) -> Snapshot:
        """Full MERGE with WHEN MATCHED UPDATE semantics, copy-on-write at
        file granularity — the update-in-place counterpart of ``upsert``
        (which is the reference's delete+insert rewrite,
        icberg/iceberg_tables.py:45-50).

        - **matched** target rows: each column named in ``update`` is
          replaced by its expression, which may reference both sides as
          ``target.<col>`` / ``source.<col>``; every OTHER column keeps
          the TARGET value (column-level update — unlike ``upsert``,
          which replaces whole rows with the batch's).
        - **unmatched source** rows are inserted when ``insert=True``
          (WHEN NOT MATCHED THEN INSERT *), else discarded.
        - **unmatched target** rows are untouched — files whose footer
          key range doesn't overlap the source's are carried by
          reference, so I/O is O(source + affected files), not O(table).

        ``update`` values are Spark Columns (or SQL strings via
        ``F.expr``). Updating a key column is unsupported (that's a
        delete+insert — use ``upsert``). A source key matching several
        target rows updates all of them."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        prev = self.snapshot()
        self._check_schema(source, prev)
        self._check_constraints(source, prev)
        spark = source.sparkSession
        update = dict(update or {})
        bad = set(update) & set(keys)
        if bad:
            raise ValueError(f"cannot update merge key columns: {sorted(bad)}")

        from aws_glue_data_lake_spark.operators.mergeclauses import (
            key_bounds,
        )

        _n, bounds = key_bounds(source, keys)
        affected, untouched = self._split_by_key_range(prev, bounds, keys)
        stat_cols = sorted({*keys, *self._stat_cols(prev)})
        st = StructType.fromDDL(prev.schema)

        if affected:
            live = self._read_files(spark, [f["path"] for f in affected], prev)
        else:
            live = spark.createDataFrame([], prev.schema)
        tgt = live.withColumn("_tgt", F.lit(True)).alias("target")
        src = source.withColumn("_src", F.lit(True)).alias("source")
        cond = [
            F.col(f"target.{k}").eqNullSafe(F.col(f"source.{k}")) for k in keys
        ]
        joined = tgt.join(src, on=cond, how="full_outer")
        if not insert:
            joined = joined.where(F.col("_tgt").isNotNull())
        matched = F.col("_tgt").isNotNull() & F.col("_src").isNotNull()
        out_cols = []
        for f in st.fields:
            tcol = F.col(f"target.{f.name}")
            scol = F.col(f"source.{f.name}")
            val = (
                F.when(matched, update.get(f.name, tcol))
                .when(F.col("_tgt").isNotNull(), tcol)
                .otherwise(scol)  # source-only: INSERT *
            )
            out_cols.append(val.cast(f.dataType).alias(f.name))
        merged = joined.select(*out_cols)
        new_files = self._write_files(merged, stat_cols, prev.partition_by)
        return self._commit(
            untouched + new_files, prev.schema, "merge", prev,
            partition_by=prev.partition_by,
        )

    def _read_files(
        self,
        spark: SparkSession,
        rels: list[str],
        snap: Snapshot,
        with_name: bool = False,
    ) -> DataFrame:
        """Plan a scan over an explicit file subset WITH the manifest
        schema declared on the reader. Declaring the schema (rather than
        inferring + casting) does three jobs at once: partition-value
        type inference can't retype a string partition column from its
        path values; files written before a schema evolution surface
        NULL for the added columns (parquet reader semantics — no
        per-file footer merge, which at 10^5 files would be a planning
        stall); and basePath partition-column reordering is undone by
        the final select."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        paths = [self._abs(r) for r in rels]
        st = StructType.fromDDL(snap.schema)
        rel_set = set(rels)
        dv_rels = sorted(
            {
                e["dv"]["path"]
                for e in snap.files
                if e.get("dv") and e["path"] in rel_set
            }
        )

        def with_meta(d: DataFrame) -> DataFrame:
            # metadata columns resolve only on a direct scan, so when DVs
            # apply they must be attached BEFORE any union
            return d.select(
                "*",
                F.col("_metadata.file_name").alias("__dv_fn"),
                F.col("_metadata.row_index").alias("__dv_ri"),
            )

        def with_name_col(d: DataFrame) -> DataFrame:
            # per-row source file BASENAME (uuid-unique in this layout) —
            # attached on the direct scan for callers that need per-file
            # row attribution (e.g. the NOT MATCHED BY SOURCE probe)
            return d.select(
                "*", F.col("_metadata.file_name").alias("__fp")
            )

        if snap.partition_by and any(os.path.isabs(r) for r in rels):
            # MIXED-ROOT partitioned scan (a shallow clone of a partitioned
            # table holds foreign absolute paths; after clone-local writes
            # the file set spans two data roots, which a single basePath
            # cannot express). Partition VALUES come from the manifest, so
            # group files by partition tuple, scan each group with the
            # non-partition schema, attach the partition columns as typed
            # literals, and union — planning is O(#partition groups),
            # documented as the clone-of-partitioned cost.
            by_name = {e["path"]: e for e in snap.files}
            part_fields = [f for f in st.fields if f.name in snap.partition_by]
            data_st = StructType(
                [f for f in st.fields if f.name not in snap.partition_by]
            )
            groups: dict[tuple, list[str]] = {}
            for r in rels:
                part = by_name[r].get("partition", {})
                key = tuple(part.get(f.name) for f in part_fields)
                groups.setdefault(key, []).append(self._abs(r))
            parts_dfs = []
            for key, gpaths in sorted(groups.items()):
                g = spark.read.schema(data_st).parquet(*gpaths)
                if dv_rels:
                    g = with_meta(g)
                if with_name:
                    g = with_name_col(g)
                for f, v in zip(part_fields, key):
                    # The Hive path writer records a null partition value as
                    # the __HIVE_DEFAULT_PARTITION__ sentinel; Spark's own
                    # basePath read surfaces it as NULL, so this manifest
                    # -literal path must too (missing keys likewise).
                    if v is None or v == "__HIVE_DEFAULT_PARTITION__":
                        g = g.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
                    else:
                        g = g.withColumn(f.name, F.lit(v).cast(f.dataType))
                out_cols = [f.name for f in st.fields]
                if dv_rels:
                    out_cols += ["__dv_fn", "__dv_ri"]
                if with_name:
                    out_cols += ["__fp"]
                parts_dfs.append(g.select(*out_cols))
            df = parts_dfs[0]
            for g in parts_dfs[1:]:
                df = df.unionByName(g)
        else:
            reader = spark.read.schema(st)
            if snap.partition_by:
                reader = reader.option("basePath", self._data)
            df = reader.parquet(*paths)
            if dv_rels:
                df = with_meta(df)
            if with_name:
                df = with_name_col(df)
        # Merge-on-read DELETION VECTORS: every read path (time travel,
        # upsert/merge rewrites, compaction) flows through here, so
        # applying DVs at this chokepoint keeps all of them consistent.
        # A DV row is (file_name, row_index); _metadata.row_index gives
        # the scan-side position and file basenames are uuid-unique, so
        # the anti join restores exactly the undeleted rows. DV sidecars
        # are tiny next to data (positions only), so the anti join's
        # build side stays broadcastable far beyond any realistic delete
        # churn; compaction folds DVs away entirely.
        if dv_rels:
            dv = (
                spark.read.parquet(*[self._abs(r) for r in dv_rels])
                .select("file_name", "row_index")
                .distinct()
            )
            df = df.join(
                F.broadcast(dv),
                (F.col("__dv_fn") == F.col("file_name"))
                & (F.col("__dv_ri") == F.col("row_index")),
                "anti",
            )
        return df.select(
            *[F.col(f.name) for f in st.fields],
            *(["__fp"] if with_name else []),
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        partition_filter: dict | None = None,
    ) -> DataFrame:
        """Snapshot-pinned scan (time travel via ``version``). Planning from
        an explicit file list means readers never race a concurrent commit:
        the snapshot IS the isolation boundary. ``partition_filter``
        ({col: value}) prunes files by manifest partition values BEFORE the
        scan is planned — list-then-scan partition pruning, no directory
        walk of irrelevant partitions."""
        snap = self.snapshot(version)
        files = snap.files
        if partition_filter:
            want = {k: str(v) for k, v in partition_filter.items()}
            files = [
                f for f in files
                if all(f.get("partition", {}).get(k) == v for k, v in want.items())
            ]
        if not files:
            return spark.createDataFrame([], snap.schema)
        return self._read_files(spark, [f["path"] for f in files], snap)

    def stat_max(self, col: str, version: int | None = None):
        """Table-level max of ``col`` computed purely from manifest stats —
        zero Spark jobs (the CDC watermark probe at 100 TB should read
        footers' worth of metadata, not the fact table). Returns None when
        any file lacks stats for ``col`` (caller falls back to an agg)."""
        snap = self.snapshot(version)
        vals = []
        for f in snap.files:
            rng = f.get("stats", {}).get(col)
            if rng is None:
                return None
            vals.append(rng[1])
        return max(vals) if vals else None

    def clone_to(self, dest_path: str) -> "LakeTable":
        """SHALLOW CLONE: a new table whose v1 manifest references this
        table's CURRENT data files by absolute path — zero bytes copied,
        O(#files) manifest write. The clone then evolves independently:
        its own appends/upserts/deletes write clone-local files, while
        the source never learns the clone exists. The standard caveat
        carries over from Delta/Iceberg shallow clones: vacuuming the
        SOURCE can remove files a clone still references (the clone's
        vacuum, conversely, never touches foreign absolute paths).
        Dev/test forks of production tables are the use case — clone,
        experiment, drop."""
        snap = self.snapshot()
        # Partitioned tables clone too: the mixed-root read path in
        # _read_files reconstructs partition columns from MANIFEST values
        # (grouped typed literals) whenever the file set spans data roots,
        # so a single basePath is no longer required.
        clone = LakeTable(dest_path)
        if clone.exists():
            raise ValueError(f"clone target {dest_path} already exists")
        files = []
        for e in snap.files:
            e = dict(e)
            e["path"] = self._abs(e["path"])
            if e.get("dv"):
                e["dv"] = dict(e["dv"], path=self._abs(e["dv"]["path"]))
            files.append(e)
        os.makedirs(dest_path, exist_ok=True)
        clone._commit(
            files, snap.schema, f"clone:{self.path}@v{snap.version}", None,
            partition_by=snap.partition_by,
        )
        return clone

    def truncate(self) -> Snapshot:
        """TRUNCATE TABLE: one metadata-only commit whose live set is
        empty — schema, partitioning and constraints survive, prior
        snapshots stay time-travelable until vacuum. The lake_cdf
        stream treats it as a non-append op (loud, like every rewrite
        commit — the append-only feed contract)."""
        prev = self.snapshot()
        return self._commit(
            [], prev.schema, "truncate", prev,
            partition_by=prev.partition_by,
            constraints=prev.constraints,
        )

    def restore(self, version: int) -> Snapshot:
        """RESTORE the table to an earlier snapshot as a NEW commit
        (Delta's ``RESTORE TABLE ... VERSION AS OF n``): the new tip
        re-references the target snapshot's file list, schema, partition
        layout, and CHECK constraints — zero data movement — while
        history is preserved: every intermediate version stays time-
        travelable, and the restore itself is an ordinary commit that a
        later restore can roll away again. Two deliberate asymmetries vs
        a naive manifest copy:

        - per-writer txn replay state is cumulative and carried FORWARD,
          never rolled back (``_commit`` folds the current tip's txns
          map in): a restored table must still recognize streaming
          batches committed after the target version, or an
          at-least-once redelivery would re-append them;
        - files the target references may have been vacuumed away (only
          the retained tail of history pins files); that fails loudly
          here rather than committing a tip that cannot be scanned —
          the same post-VACUUM caveat Delta documents for RESTORE.
        """
        tip = self.snapshot()
        target = self.snapshot(version)
        missing = [
            f["path"] for f in target.files
            if not os.path.exists(self._abs(f["path"]))
        ] + [
            f["dv"]["path"] for f in target.files
            if f.get("dv") and not os.path.exists(self._abs(f["dv"]["path"]))
        ]
        if missing:
            raise ValueError(
                f"cannot restore {self.path} to v{version}: vacuum already "
                f"removed {sorted(missing)}"
            )
        return self._commit(
            [dict(f) for f in target.files],
            target.schema,
            f"restore:v{version}",
            tip,
            partition_by=target.partition_by,
            # {} (not None) when the target had no constraints: constraints
            # added AFTER the target version are dropped by the restore,
            # exactly like the rest of table state.
            constraints=dict(target.constraints or {}),
        )

    def _tombstones(self, entries: list[dict]) -> dict[str, list[int]]:
        """Deleted row positions of ``entries``, keyed by data file
        basename, each read from its entry's own sidecar with pyarrow."""
        by_sidecar: dict[str, list[str]] = {}
        for e in entries:
            if e.get("dv"):
                by_sidecar.setdefault(e["dv"]["path"], []).append(
                    os.path.basename(e["path"])
                )
        out: dict[str, list[int]] = {}
        for rel, names in by_sidecar.items():
            t = pq.read_table(
                self._abs(rel),
                columns=["file_name", "row_index"],
                filters=[("file_name", "in", names)],
            )
            for name, pos in zip(
                t.column("file_name").to_pylist(),
                t.column("row_index").to_pylist(),
            ):
                out.setdefault(name, []).append(pos)
        return out

    def delete_where(self, spark: SparkSession, condition: str) -> Snapshot:
        """MERGE-ON-READ row-level delete via deletion vectors: instead of
        rewriting data files (the copy-on-write path ``upsert``/``merge``
        take), record the deleted row POSITIONS in a sidecar parquet and
        leave every data file untouched — the Delta/Iceberg v2 "deletion
        vectors" trade: cheap deletes, a small anti-join tax on every
        read until ``compact`` folds the DVs away.

        Matched positions come from :func:`dml.pack_positions` over a raw
        ``_metadata`` scan and are folded into each touched entry's own
        sidecar rows (:func:`dml.fold_positions`). One new sidecar holds
        (file_name, row_index) for the files whose set grew, and only
        their entries point to it; other entries keep their sidecar, and
        one no entry references is vacuumable. Cost: O(touched files'
        tombstones); a delete that tombstones no new row commits nothing.
        Readers apply DVs inside ``_read_files`` — the single scan
        chokepoint — so time travel, upserts, and compaction all see the
        deleted rows gone. Note ``stat_max`` stays manifest-level (an
        upper bound that ignores DVs): fine for pruning, which only needs
        conservative bounds.

        ``condition`` is a SQL boolean over the table's columns.
        """
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from aws_glue_data_lake_spark.operators import dml

        snap = self.snapshot()
        if not snap.files:
            return snap
        reader = spark.read.schema(StructType.fromDDL(snap.schema))
        if snap.partition_by:
            reader = reader.option("basePath", self._data)
        matched = (
            reader.parquet(*[self._abs(r) for r in snap.file_names])
            .select(
                F.col("_metadata.file_name").alias("file_name"),
                F.col("_metadata.row_index").alias("row_index"),
                dml.as_column(condition).alias("__del"),
            )
            .where("__del")
        )
        packed = dml.pack_positions(matched, "file_name", "row_index")
        by_name = {os.path.basename(e["path"]): e for e in snap.files}
        prior = self._tombstones([by_name[fp] for fp, _ in packed])
        folded = dml.fold_positions(packed, prior.get)
        if not folded:
            return snap  # no row newly deleted: commit nothing
        os.makedirs(os.path.join(self.path, "_dv"), exist_ok=True)
        rel = os.path.join("_dv", f"{uuid.uuid4().hex}.parquet")
        dml.write_position_file(
            self._abs(rel), folded, "file_name", "row_index"
        )
        rows = {fp: len(pos) for fp, pos in folded}
        files = [
            dict(e, dv={"path": rel, "rows": rows[name]})
            if (name := os.path.basename(e["path"])) in rows
            else e
            for e in snap.files
        ]
        return self._commit(
            files, snap.schema, "delete-dv", snap,
            partition_by=snap.partition_by,
        )

    def update_where(
        self, spark: SparkSession, condition: str, assignments: dict
    ) -> Snapshot:
        """UPDATE ... SET ... WHERE ... as ONE copy-on-write commit (the
        sqlfront DML leg delegates here): files holding a matching row
        are found by a single ``_metadata.file_name`` aggregation over
        the pushed-predicate scan, rewritten with the assignments
        applied to matching rows (their DVs folded away by the
        DV-applying read), and swapped in one commit; everything else is
        carried by reference. ``assignments`` maps column name -> SQL
        expression string or Column."""
        from pyspark.sql.types import StructType

        from aws_glue_data_lake_spark.operators import dml

        prev = self.snapshot()
        st = StructType.fromDDL(prev.schema)
        dml.check_assignments(assignments, st)
        cond = dml.as_column(condition)
        reader = spark.read.schema(st)
        if prev.partition_by:
            reader = reader.option("basePath", self._data)
        # raw scan (DVs not applied) is only used to NAME files with a
        # potential match — over-inclusion by a tombstoned row merely
        # rewrites one extra file; the rewrite itself reads DV-applied
        matched_names = set(
            dml.affected_files(
                reader.parquet(*[self._abs(e["path"]) for e in prev.files]),
                cond,
                "_metadata.file_name",
            )
        )
        affected = [
            e
            for e in prev.files
            if os.path.basename(e["path"]) in matched_names
        ]
        if not affected:
            return prev
        untouched = [e for e in prev.files if e not in affected]
        live = self._read_files(
            spark, [e["path"] for e in affected], prev
        )
        kept, _, updated = dml.split_rows(live, cond, st, assignments)
        self._check_constraints(updated, prev)
        new_files = self._write_files(
            kept.unionByName(updated), self._stat_cols(prev),
            prev.partition_by,
        )
        return self._commit(
            untouched + new_files, prev.schema, "update", prev,
            partition_by=prev.partition_by,
        )

    def read_pruned(
        self,
        spark: SparkSession,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned scan: plan only the files whose footer [min, max]
        interval OVERLAPS every requested ``{col: (lo, hi)}`` range (both
        ends inclusive; None = unbounded), then apply the exact residual
        predicate in-plan. This is manifest-level data skipping — the
        scan cost tracks the selected region, not the table; pair with
        ``compact(zorder_by=[...])`` to make multi-column boxes prune
        well. Files with no recorded stats for a column are conservatively
        kept."""
        from pyspark.sql import functions as F

        snap = self.snapshot(version)

        def overlaps(f: dict) -> bool:
            for col, (lo, hi) in ranges.items():
                st = (f.get("stats") or {}).get(col)
                if st is None:
                    continue  # unknown → keep (conservative)
                fmin, fmax = st
                if lo is not None and fmax is not None and fmax < lo:
                    return False
                if hi is not None and fmin is not None and fmin > hi:
                    return False
            return True

        files = [f for f in snap.files if overlaps(f)]
        if not files:
            return spark.createDataFrame([], snap.schema)
        df = self._read_files(spark, [f["path"] for f in files], snap)
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.where(F.col(col) >= lo)
            if hi is not None:
                df = df.where(F.col(col) <= hi)
        return df

    @staticmethod
    def _zorder_key(df: DataFrame, cols: Sequence[str]):
        """Morton (bit-interleaved) key over rank-normalized columns: each
        column maps to a 16-bit integer by linear min-max scaling (one tiny
        agg job for the bounds), then bits interleave round-robin — pure
        codegen arithmetic, no UDF. Files range-partitioned on this key
        cover compact z-regions, so footer stats stay narrow on EVERY
        clustered column at once (single-column range clustering narrows
        only its own column)."""
        from pyspark.sql import functions as F

        bounds = df.agg(
            *[F.min(c).cast("double").alias(f"{c}__lo") for c in cols],
            *[F.max(c).cast("double").alias(f"{c}__hi") for c in cols],
        ).first()
        scaled = []
        for c in cols:
            lo, hi = bounds[f"{c}__lo"], bounds[f"{c}__hi"]
            span = (hi - lo) or 1.0
            scaled.append(
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * 65535
                ).cast("bigint")
            )
        n = len(cols)
        key = F.lit(0).cast("bigint")
        for bit in range(16):
            for j, sc in enumerate(scaled):
                key = key.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(sc, bit).bitwiseAND(F.lit(1)),
                        bit * n + j,
                    ).cast("bigint")
                )
        return key

    def compact(self, spark: SparkSession, target_files: int = 1,
                zorder_by: Sequence[str] = ()) -> Snapshot:
        """Small-file compaction (Delta OPTIMIZE / Iceberg rewrite-data-files):
        rewrite the current snapshot into ``target_files`` files and commit
        it as a new snapshot — older snapshots stay readable until vacuum.

        Streaming CDC produces a few small files per micro-batch; without
        periodic compaction a long-lived table degrades into thousands of
        tiny scans and an ever-larger manifest. Rows are range-partitioned
        on the leading stats column when one exists, so footer min/max
        ranges stay disjoint and upsert-time file pruning KEEPS working on
        the compacted layout (round-robin would smear every key range
        across every file)."""
        prev = self.snapshot()
        if len(prev.files) <= target_files and not zorder_by:
            return prev
        stat_cols = self._stat_cols(prev)
        if zorder_by:
            # record stats for every clustered column so read_pruned can
            # skip on each of them
            stat_cols = sorted(set(stat_cols) | set(zorder_by))
        df = self.read(spark)
        if zorder_by:
            df = df.repartitionByRange(
                target_files, self._zorder_key(df, list(zorder_by))
            )
        elif prev.partition_by:
            df = df.repartition(target_files, *prev.partition_by)
        elif stat_cols:
            df = df.repartitionByRange(target_files, stat_cols[0])
        else:
            df = df.repartition(target_files)
        files = self._write_files(df, stat_cols, prev.partition_by)
        return self._commit(
            files, prev.schema, "compact", prev,
            partition_by=prev.partition_by,
        )

    @classmethod
    def convert_in_place(
        cls,
        spark: SparkSession,
        parquet_path: str,
        table_path: str,
        stat_cols: Sequence[str] = (),
        partition_by: Sequence[str] = (),
    ) -> "LakeTable":
        """CONVERT an existing plain-parquet dataset into a lake table
        WITHOUT rewriting a byte (Delta's ``CONVERT TO DELTA`` / Iceberg's
        ``add_files``): the v1 manifest references the source files by
        absolute path, footer stats are harvested for pruning, and every
        subsequent operation works normally — upserts rewrite only the
        affected files into table-local storage while untouched source
        files stay referenced in place; this table's vacuum never deletes
        foreign absolute paths. This is the 100 TB onboarding path: a
        petabyte of historical parquet becomes ACID-managed in O(#files)
        metadata work instead of an O(data) rewrite. The source files
        must be treated as immutable from then on (same contract as
        Delta's in-place convert).

        A Hive-partitioned source (``col=value`` subdirs) must be converted
        with an explicit ``partition_by`` naming those columns — like
        Delta's ``CONVERT TO DELTA ... PARTITIONED BY``, which fails
        without one. Per-file partition values are parsed from the path
        segments into the manifest (percent-unescaped; the read side maps
        the __HIVE_DEFAULT_PARTITION__ sentinel back to NULL), so
        partition pruning and partitioned reads work exactly as if the
        table had been written partitioned."""
        from pyspark.sql.types import StructType

        table = cls(table_path)
        if table.exists():
            raise FileExistsError(f"lake table already exists: {table_path}")
        if os.path.isdir(parquet_path):
            srcs = sorted(
                glob.glob(
                    os.path.join(parquet_path, "**", "*.parquet"),
                    recursive=True,
                )
            )
        else:
            srcs = [parquet_path]
        if not srcs:
            raise ValueError(f"no parquet files under {parquet_path}")
        root = os.path.abspath(parquet_path)

        def _path_partition(src: str) -> dict:
            """{col: raw string value} from col=value dirs between the
            dataset root and the file (empty for a flat layout)."""
            rel_dir = os.path.relpath(os.path.dirname(os.path.abspath(src)), root)
            out = {}
            for seg in rel_dir.split(os.sep) if rel_dir != "." else []:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    out[k] = urllib.parse.unquote(v)
            return out

        discovered = sorted({k for s in srcs for k in _path_partition(s)})
        if discovered and not partition_by:
            raise ValueError(
                f"{parquet_path} has Hive partition directories "
                f"({discovered}); pass partition_by= naming them — schema "
                "inference over explicit file paths would silently drop "
                "those columns (Delta's CONVERT TO DELTA requires "
                "PARTITIONED BY for the same reason)"
            )
        if partition_by:
            missing = [c for c in partition_by if c not in discovered]
            if missing:
                raise ValueError(
                    f"partition_by columns {missing} not found in the "
                    f"path layout (found: {discovered})"
                )
            # basePath discovery infers the partition-column TYPES the same
            # way a normal partitioned read would; data columns keep their
            # file schema. Partition columns go last, matching Spark's own
            # partitioned-read column order.
            full = spark.read.option("basePath", root).parquet(root).schema
            part_fields = [f for f in full.fields if f.name in partition_by]
            data_fields = [f for f in full.fields if f.name not in partition_by]
            schema = StructType(data_fields + part_fields).toDDL()
        else:
            schema = spark.read.parquet(*srcs)._jdf.schema().toDDL()
        files = []
        for src in srcs:
            info = _footer_stats(os.path.abspath(src), list(stat_cols))
            if info["rows"] == 0:
                continue
            entry = {
                "path": os.path.abspath(src),
                "rows": info["rows"],
                "stats": info["stats"],
            }
            part = _path_partition(src)
            if part:
                entry["partition"] = part
            files.append(entry)
        os.makedirs(table_path, exist_ok=True)
        table._commit(
            files, schema, f"convert:{parquet_path}", None,
            partition_by=tuple(partition_by),
        )
        return table

    # -- tags (named snapshot refs, Iceberg-style) -------------------------
    def tags(self) -> dict:
        """{tag name: version} — named immutable refs into the commit log."""
        p = os.path.join(self.path, "_tags.json")
        try:
            with open(p) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _tags_mutate(self, mutate) -> None:
        """Serialized read-modify-write of the whole-file tag map. _tags.json
        holds EVERY tag, so two concurrent writers for *different* names
        would otherwise lose one entirely (not just last-writer-wins on the
        same name) — silently dropping that version's vacuum protection.
        An O_EXCL lock file serializes the RMW, matching the care the
        commit path takes; stale locks (crashed writer) expire after 10 s."""
        import time

        lock = os.path.join(self.path, "_tags.lock")
        deadline = time.monotonic() + 10.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                try:
                    if os.path.getmtime(lock) < time.time() - 10.0:
                        os.remove(lock)  # crashed-writer stale lock
                        continue
                except OSError:
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(f"tag lock busy: {lock}")
                time.sleep(0.01)
        try:
            tags = self.tags()
            mutate(tags)
            p = os.path.join(self.path, "_tags.json")
            tmp = p + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(tags, f, indent=1)
            os.replace(tmp, p)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a named tag to ``version`` (default: current tip), like
        Iceberg's tagged snapshots / a release label on the commit log.
        Tagged versions are PROTECTED FROM VACUUM: their manifests and
        files survive any retention window until the tag is deleted —
        that's the whole point (a 'model-v3-training-set' tag must outlive
        the daily retention policy). The read-modify-write of the whole
        tag map is serialized by a lock file (see _tags_mutate)."""
        v = self.current_version() if version is None else version
        self.snapshot(v)  # validates the version exists
        self._tags_mutate(lambda tags: tags.__setitem__(name, v))
        return v

    def delete_tag(self, name: str) -> None:
        def _drop(tags: dict) -> None:
            if name not in tags:
                raise KeyError(f"no such tag {name!r} on {self.path}")
            del tags[name]

        self._tags_mutate(_drop)

    def read_tag(self, spark: SparkSession, name: str) -> DataFrame:
        """Scan the snapshot a tag points at (exactly read(version=...))."""
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no such tag {name!r} on {self.path}")
        return self.read(spark, version=tags[name])

    def repartition_layout(
        self, spark: SparkSession, partition_by: Sequence[str]
    ) -> Snapshot:
        """Partition-layout MIGRATION by rewrite — the portable answer to
        Iceberg's partition evolution: rewrite the current snapshot into a
        new Hive layout (or back to unpartitioned with ``()``) and commit
        it. Layout is per-snapshot state, so older versions keep their old
        layout and stay time-travelable — the read path plans each version
        from ITS manifest's ``partition_by``. A full rewrite (not
        Iceberg's metadata-only evolution, which leaves mixed-layout files
        behind): one pass over the table buys a uniform layout, which is
        what keeps the downstream scan planner simple and every
        partition-pruned read exact. Rows are pre-shuffled onto the new
        partition columns so each partition lands as few files, not one
        file per (input task × partition)."""
        prev = self.snapshot()
        if list(partition_by) == list(prev.partition_by):
            return prev
        df = self.read(spark)
        if partition_by:
            df = df.repartition(*partition_by)
        files = self._write_files(
            df, self._stat_cols(prev), partition_by
        )
        return self._commit(
            files,
            prev.schema,
            "repartition:" + (",".join(partition_by) or "none"),
            prev,
            partition_by=tuple(partition_by),
        )

    def vacuum(
        self, keep_versions: int = 1, dry_run: bool = False
    ) -> list[str]:
        """Drop data files unreferenced by the ``keep_versions`` most recent
        snapshots (and the older manifests themselves), plus ORPHANS —
        data files referenced by no manifest at all, which a writer that
        lost a commit race (or died mid-write) leaves behind: its data
        files land before the O_EXCL manifest create fails, exactly like
        Delta's uncommitted files that VACUUM collects. Returns removed
        file paths.

        Do not run concurrently with active writers: an in-flight commit's
        data files look orphaned until its manifest lands (Delta solves
        this with a retention window on file age; at this layer the
        contract is simply that vacuum is a maintenance operation scheduled
        apart from writes). ``dry_run`` returns the would-be-removed
        paths with NO mutation (no deletes, no manifest
        materialization)."""
        if keep_versions < 1:
            # keep_versions=0 would compute keep = snaps[i >= n] = nothing
            # and delete the CURRENT TIP (manifest + data). No retention
            # policy ever means "destroy the table", so fail loudly instead
            # of guessing (Delta's VACUUM likewise refuses retention < safe
            # minimum unless explicitly overridden).
            raise ValueError(
                f"vacuum keep_versions must be >= 1, got {keep_versions}"
            )
        snaps = self.history()
        tagged = set(self.tags().values())
        n = len(snaps)
        keep = [
            s for i, s in enumerate(snaps)
            if i >= n - keep_versions or s.version in tagged
        ]
        keep_versions_set = {s.version for s in keep}
        drop = [s for s in snaps if s.version not in keep_versions_set]
        # A kept DELTA manifest whose parent is being dropped would lose
        # its reconstruction chain — materialize it as a full manifest
        # first (the snapshot is already reconstructed in `snaps`).
        for s in keep:
            if dry_run:
                break
            if s.parent is not None and s.parent not in keep_versions_set:
                mpath = os.path.join(self._manifests, f"v{s.version}.json")
                raw = self._load_manifest(s.version)
                if "files" not in raw:
                    raw.pop("adds", None)
                    raw.pop("removes", None)
                    raw["files"] = s.files
                    tmp = mpath + f".tmp.{uuid.uuid4().hex}"
                    with open(tmp, "w") as f:
                        json.dump(raw, f, indent=1)
                    os.replace(tmp, mpath)
        live = {f for s in keep for f in s.file_names}
        live |= {d for s in keep for d in s.dv_paths}
        removed = []
        seen = set()  # dedupe: consecutive snapshots share files (under
        # dry_run os.path.exists never starts returning False)
        for s in drop:
            for f in s.file_names + s.dv_paths:
                if os.path.isabs(f):
                    continue  # foreign reference (shallow clone): never
                    # delete another table's data
                if (
                    f not in live
                    and f not in seen
                    and os.path.exists(self._abs(f))
                ):
                    if not dry_run:
                        os.remove(self._abs(f))
                    seen.add(f)
                    removed.append(f)
            if not dry_run:
                os.remove(
                    os.path.join(self._manifests, f"v{s.version}.json")
                )
        referenced = {f for s in snaps for f in s.file_names}
        referenced |= {d for s in snaps for d in s.dv_paths}
        for path in glob.glob(os.path.join(self.path, "_dv", "*.parquet")):
            rel = os.path.relpath(path, self.path)
            if rel not in referenced and rel not in seen:
                if not dry_run:
                    os.remove(path)
                seen.add(rel)
                removed.append(rel)
        for path in glob.glob(
            os.path.join(self._data, "**", "*.parquet"), recursive=True
        ):
            rel = os.path.relpath(path, self.path)
            if rel not in referenced and rel not in seen:
                if not dry_run:
                    os.remove(path)
                seen.add(rel)
                removed.append(rel)
        if not dry_run:
            for stage in glob.glob(os.path.join(self.path, "_stage_*")):
                # crashed-writer debris
                shutil.rmtree(stage, ignore_errors=True)
        return removed

    # -- pruning ------------------------------------------------------------
    @staticmethod
    def _stat_cols(snap: Snapshot) -> list[str]:
        cols: set[str] = set()
        for f in snap.files:
            cols.update(f.get("stats", {}))
        return sorted(cols)

    def _split_by_key_range(
        self, snap: Snapshot, key_bounds: dict, keys: Sequence[str]
    ) -> tuple[list[dict], list[dict]]:
        """Partition the snapshot's files into (affected, untouched) by
        intersecting each file's footer min/max on the FIRST key column
        with the batch's ``key_bounds[lead]``. Files without stats are
        conservatively affected. Runs no Spark job: the caller passes
        the bounds (``operators.mergeclauses.key_bounds``)."""
        lead = keys[0]
        # Normalize through the same encoding the manifest stats use, so
        # non-JSON-native key types (timestamps → ISO strings, which order
        # lexicographically) compare against stats without type errors.
        lo, hi = (_json_safe(v) for v in key_bounds[lead])
        if lo is None:  # no non-NULL key: nothing can match
            return [], list(snap.files)
        affected, untouched = [], []
        for f in snap.files:
            rng = f.get("stats", {}).get(lead)
            if rng is None or not (hi < rng[0] or lo > rng[1]):
                affected.append(f)
            else:
                untouched.append(f)
        return affected, untouched
