"""Admission control for the CDF streaming sources (VERDICT r9 item 5).

delta-spark's ``maxFilesPerTrigger`` equivalent for the ``lake_cdf`` /
``delta_cdf`` / ``iceberg_cdf`` Python DataSources: without it, one
oversized backfill commit becomes one oversized micro-batch (a 10k-file
bulk load = one batch holding 10k tasks' worth of state in a single
trigger). With it, offsets gain sub-commit granularity —
``{"version": V, "file": K}`` meaning "all commits <= V consumed, plus
the first K planned units of commit V+1" — so a large commit SPLITS
across micro-batches with exact replay (the per-version unit list is
deterministically ordered).

The Python DataSource API's ``latestOffset()`` takes no start offset, so
the limiter tracks its own cursor. Observed engine behavior (pinned by
``tests/test_streaming.py``'s rate-limit tests): on a FRESH stream the
first ``latestOffset`` arrives before ``initialOffset`` — the limiter
starts from the stream's declared initial offset (``floor``), which is
exactly where a fresh stream begins; on a RESTART the engine replays
``commit(end)`` for the last finished batch BEFORE asking for a new
offset, so the cursor is re-seeded to the true position first. Every
``initialOffset`` / ``partitions`` / ``commit`` call also seeds it
(keeping the furthest position, so a stale seed can never rewind the
cursor into re-emitting consumed files).

Bounded catch-up ("availableNow" equivalent): pair
``maxFilesPerTrigger`` with ``streaming.pipelines.drain_all`` — the
stream drains to the tip in limited batches and the drain returns when
``latestOffset`` stops advancing; pass ``endingVersion`` to pin the
drain target against concurrent writers.

Scale: the limiter touches only per-commit METADATA (unit counts come
from the sources' manifest/log diffs, memoized per version); no data
I/O, no extra planning beyond what the batch would do anyway.
"""

from __future__ import annotations

import re as _re

__all__ = [
    "CdfRateLimiter",
    "offset_vk",
    "slice_version_range",
    "pa_type_of",
    "schema_changed_error",
]


def pa_type_of(simple: str):
    """Spark simpleString type -> pyarrow type, for NULL-backfilling a
    column a pre-evolution file predates (the parquet
    missing-column contract, applied inside the CDF sources'
    Arrow-batch readers). Loud on types the map doesn't cover — a
    wrongly typed null column would mis-bind positionally."""
    import pyarrow as pa

    m = {
        "tinyint": pa.int8(), "smallint": pa.int16(),
        "int": pa.int32(), "bigint": pa.int64(),
        "float": pa.float32(), "double": pa.float64(),
        "boolean": pa.bool_(), "string": pa.string(),
        "binary": pa.binary(), "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if simple in m:
        return m[simple]
    dm = _re.match(r"^decimal\((\d+),(\d+)\)$", simple)
    if dm:
        return pa.decimal128(int(dm.group(1)), int(dm.group(2)))
    raise ValueError(
        f"cannot NULL-backfill a column of type {simple!r} in a "
        "streaming read (pre-evolution file misses it)"
    )


def ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """Session-free DDL -> [(name, lowercased type)] for the CDF
    sources' schema-stability checks: ``StructType.fromDDL`` needs a
    live SparkSession, which the Python data-source PLANNING worker
    does not have. Top-level commas split the field list; ``<>``/``()``
    nesting (struct/map/array/decimal) is depth-tracked."""
    parts: list[str] = []
    depth, cur = 0, []
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    out = []
    for part in parts:
        part = part.strip()
        if not part:
            continue
        name, _, typ = part.partition(" ")
        typ = " ".join(typ.split()).lower()
        if typ.endswith(" not null"):
            typ = typ[: -len(" not null")]
        out.append((name.strip("`"), typ.replace(" ", "")))
    return out


def schema_changed_error(source: str, version: int, old, new) -> ValueError:
    """The pinned mid-stream schema-evolution behavior (VERDICT r13
    item 3): a commit that CHANGES the table schema past the stream's
    start-pinned schema fails the stream loudly — delta-spark's
    behavior without schemaTrackingLocation — instead of silently
    dropping the new column (positional Arrow binding would never
    surface it) or crashing deep in the Arrow reader. Restarting the
    stream picks up the new schema; files written under OLDER schemas
    keep streaming fine (NULL backfill)."""
    return ValueError(
        f"{source}: table schema changed at version {version} "
        f"(stream started on [{old}], commit declares [{new}]); "
        "a running stream cannot widen its schema — restart the "
        "stream to pick up the new columns (files written under "
        "older schemas replay fine with NULL backfill)"
    )


def offset_vk(off: dict) -> tuple[int, int]:
    """(version, file-index) from an offset dict; pre-rate-limit
    checkpoints lack "file" and mean K=0."""
    return int(off["version"]), int(off.get("file", 0))


def slice_version_range(start: dict, end: dict):
    """Yield ``(version, lo, hi_or_None)`` unit slices covering
    (start, end]: ``hi_or_None`` None means "to the end of the
    version's unit list" (callers slice ``units[lo:hi]``)."""
    sv, sk = offset_vk(start)
    ev, ek = offset_vk(end)
    last_v = ev + 1 if ek > 0 else ev
    for v in range(sv + 1, last_v + 1):
        lo = sk if v == sv + 1 else 0
        hi = ek if (ek > 0 and v == ev + 1) else None
        if hi is not None and lo >= hi:
            continue
        yield v, lo, hi


class CdfRateLimiter:
    """Cursor-tracking admission control. ``count_of(v)`` returns the
    number of planned units version ``v`` contributes (0 for skipped
    commits); ``floor`` is the stream's initial offset position — the
    cursor's starting point on a fresh stream."""

    def __init__(
        self,
        max_files: int | None,
        ending_version: int | None = None,
        floor: tuple[int, int] = (0, 0),
    ):
        if max_files is not None and max_files < 1:
            raise ValueError(
                f"maxFilesPerTrigger must be >= 1, got {max_files}"
            )
        self.max_files = max_files
        self.ending_version = ending_version
        self.floor = floor
        self._cursor: tuple[int, int] | None = None

    def seed(self, off: dict) -> None:
        """Record a known-true offset (initialOffset / partitions /
        commit all see one); keep the furthest — a stale seed must
        never rewind the cursor into re-emitting consumed files."""
        vk = offset_vk(off)
        if self._cursor is None or vk > self._cursor:
            self._cursor = vk

    def latest(self, tip: int, count_of) -> dict:
        if self.ending_version is not None:
            tip = min(tip, self.ending_version)
        if self.max_files is None:
            off = {"version": tip, "file": 0}
            self.seed(off)
            return off
        if self._cursor is None:
            # first call of a FRESH stream (restarts are commit-seeded
            # before this point — module docstring): start at the
            # stream's own initial offset
            self._cursor = self.floor
        v, k = self._cursor
        budget = self.max_files
        while budget > 0 and v < tip:
            n = count_of(v + 1)
            avail = n - k
            if avail <= budget:
                budget -= avail
                v, k = v + 1, 0
            else:
                k += budget
                budget = 0
        self._cursor = (v, k)
        return {"version": v, "file": k}
