"""Independent CDC oracle: DuckDB replays the generated feed.

The oracle never calls the engine. It keeps every row version of the
target in one DuckDB table, ``hist``, with the half-open version interval
``[v_from, v_to)`` in which the row was live (``v_to`` NULL = live at the
tip), so the expected state after any commit is one filter away:

* ``load``    — the reference's full load: latest row per key, ``D`` rows
  dropped (version 0);
* ``apply``   — one incremental batch: watermark = max event time of the
  live state, rows at or before it dropped, latest row per key, every
  live row of a batch key closed, non-``D`` winners inserted;
* ``delete_where`` / ``update_where`` — SQL DML on the live rows;
* ``compact`` — a new version with the same rows.

Each state-changing call returns the new version number, which the
benchmark maps to the engine's commit id for time travel and change-feed
checks.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

KEY = "o_orderkey"
DATE = "process_date"
COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
    "process_date",
)
_COLS = ", ".join(COLUMNS)


class CdcOracle:
    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.version = -1

    def close(self) -> None:
        self.con.close()

    def _live(self, version: int | None = None) -> str:
        if version is None:
            return "v_to IS NULL"
        return f"v_from <= {int(version)} AND (v_to IS NULL OR v_to > {int(version)})"

    def _latest_non_delete(self, source: str) -> str:
        return f"""
            SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (
                PARTITION BY {KEY} ORDER BY {DATE} DESC) AS rn
              FROM {source}) WHERE rn = 1"""

    def load(self, feed: pa.Table) -> int:
        self.con.register("feed", feed)
        self.con.execute(
            f"""CREATE TABLE hist AS
            SELECT {_COLS}, 0 AS v_from, CAST(NULL AS INTEGER) AS v_to
            FROM ({self._latest_non_delete('feed')})
            WHERE op IS NULL OR op IN ('I', 'U')"""
        )
        self.con.unregister("feed")
        self.version = 0
        return 0

    def apply(self, batch: pa.Table) -> int | None:
        """Apply one incremental batch; ``None`` when every row is late
        (the pipeline's empty-batch short-circuit commits nothing)."""
        con = self.con
        (wm,) = con.execute(f"SELECT max({DATE}) FROM hist WHERE v_to IS NULL").fetchone()
        con.register("batch", batch)
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE winners AS
            {self._latest_non_delete(f"(SELECT * FROM batch WHERE {DATE} > TIMESTAMP '{wm}')")}"""
        )
        con.unregister("batch")
        (n,) = con.execute("SELECT count(*) FROM winners").fetchone()
        if n == 0:
            return None
        v = self.version + 1
        con.execute(
            f"""UPDATE hist SET v_to = {v} WHERE v_to IS NULL
            AND {KEY} IN (SELECT {KEY} FROM winners)"""
        )
        con.execute(
            f"""INSERT INTO hist SELECT {_COLS}, {v}, NULL FROM winners
            WHERE op IS NULL OR op IN ('I', 'U')"""
        )
        self.version = v
        return v

    def delete_where(self, condition: str) -> int:
        v = self.version + 1
        self.con.execute(f"UPDATE hist SET v_to = {v} WHERE v_to IS NULL AND ({condition})")
        self.version = v
        return v

    def update_where(self, condition: str, assignments: dict[str, str]) -> int:
        v = self.version + 1
        sel = ", ".join(
            f"{assignments[c]} AS {c}" if c in assignments else c for c in COLUMNS
        )
        self.con.execute(
            f"""CREATE OR REPLACE TEMP TABLE upd AS
            SELECT {sel} FROM hist WHERE v_to IS NULL AND ({condition})"""
        )
        self.con.execute(f"UPDATE hist SET v_to = {v} WHERE v_to IS NULL AND ({condition})")
        self.con.execute(f"INSERT INTO hist SELECT {_COLS}, {v}, NULL FROM upd")
        self.version = v
        return v

    def compact(self) -> int:
        self.version += 1
        return self.version

    # -- expectations -------------------------------------------------------
    def state_sql(self, version: int | None = None) -> str:
        return f"SELECT {_COLS} FROM hist WHERE {self._live(version)}"

    def rows(self, version: int | None = None) -> pa.Table:
        return self.con.execute(self.state_sql(version) + f" ORDER BY {KEY}").arrow()

    def count(self, version: int | None = None) -> int:
        return self.con.execute(f"SELECT count(*) FROM hist WHERE {self._live(version)}").fetchone()[0]

    def query(self, sql: str, version: int | None = None) -> list[tuple]:
        """Run ``sql`` with ``{state}`` bound to the state at ``version``."""
        return self.con.execute(sql.format(state=f"({self.state_sql(version)})")).fetchall()

    def net_changes(self, before: int, after: int) -> list[tuple]:
        """Multiset difference state(after) - state(before) as
        ``(row..., signed count)`` tuples, sorted — what any change feed
        over versions ``before+1..after`` must net out to."""
        return self.con.execute(
            f"""SELECT {_COLS}, CAST(sum(s) AS BIGINT) AS n FROM (
                  SELECT {_COLS}, 1 AS s FROM hist WHERE {self._live(after)}
                  UNION ALL
                  SELECT {_COLS}, -1 AS s FROM hist WHERE {self._live(before)})
                GROUP BY ALL HAVING sum(s) <> 0 ORDER BY ALL"""
        ).fetchall()
