"""Row-level DML planning shared by the three table formats.

The Delta Lake paper (VLDB 2020) §3 describes UPDATE, DELETE and MERGE
as one pattern: find the files that hold matching rows, rewrite them,
and commit the remove and add actions in one record. This module holds
the format-independent half of that pattern for a copy-on-write
rewrite:

- :func:`as_column` turns a SQL string or Column predicate/assignment
  into a Column;
- :func:`check_assignments` rejects an UPDATE that assigns to a column
  the table does not have;
- :func:`affected_files` names the files holding a matching row, from a
  scan that carries a file-path column;
- :func:`split_rows` splits the affected files' live rows into kept,
  matched and updated rows;
- :func:`pack_positions` groups matched row positions per file for a
  deletion-vector DELETE (the merge-on-read alternative to a rewrite).

Each format keeps what really differs: how a snapshot is scanned (which
file-path column it exposes, whether deletion vectors apply before the
probe), its column rules (Delta identity, generated columns, row
tracking, CDF), CHECK constraints, and its staging and commit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def as_column(expr: str | Column) -> Column:
    """A SQL expression string or a Column, as a Column."""
    return F.expr(expr) if isinstance(expr, str) else expr


def check_assignments(assignments: dict, schema: StructType) -> None:
    """UPDATE assigns only to existing columns (this is UPDATE, not
    schema evolution): fail loudly on any other name."""
    known = {f.name for f in schema.fields}
    bad = [c for c in assignments if c not in known]
    if bad:
        raise ValueError(
            f"UPDATE assigns to unknown column(s) {sorted(bad)}; "
            f"table columns are {sorted(known)}"
        )


def affected_files(scan: DataFrame, cond: Column, fp_col: str) -> list[str]:
    """The distinct values of ``fp_col`` over the rows of ``scan`` where
    ``cond`` holds: the files a rewrite must replace. The predicate
    pushes into the scan and one aggregation returns one driver row per
    file with a match, never per row."""
    return [
        row["__fp"]
        for row in scan.where(cond)
        .select(F.col(fp_col).alias("__fp"))
        .distinct()
        .collect()
    ]


def split_rows(
    live: DataFrame,
    cond: Column,
    schema: StructType,
    assignments: dict | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split the affected files' live rows for a copy-on-write rewrite
    into ``(kept, matched, updated)``:

    - ``kept``: rows copied unchanged, where ``cond`` is false OR NULL
      (a NULL predicate neither updates nor deletes a row);
    - ``matched``: the rows ``cond`` matches, as they were (CDF
      pre-images, the rows a DELETE removes);
    - ``updated``: ``matched`` with each assignment (a SQL string or
      Column, evaluated against the matched row) applied and cast to
      its column's type in ``schema``.

    An UPDATE writes ``kept`` plus ``updated``; a DELETE passes no
    assignments and writes ``kept`` alone."""
    matched = live.where(cond)
    updated = matched
    for col, expr in (assignments or {}).items():
        updated = updated.withColumn(
            col, as_column(expr).cast(schema[col].dataType)
        )
    kept = live.where(~F.coalesce(cond, F.lit(False)))
    return kept, matched, updated


def pack_positions(
    matched: DataFrame, fp_col: str, pos_col: str
) -> list[tuple[str, list[int]]]:
    """Each file's positions (``fp_col`` -> its ``pos_col`` values over
    the ``matched`` rows), for a deletion-vector DELETE. The positions are grouped and roaring-packed per file on the
    executors (``applyInPandas``), so the driver collects one compressed
    blob per touched file, never one row per deleted row."""
    import pandas as pd

    from aws_glue_data_lake_spark.roaring64 import (
        deserialize_positions,
        serialize_positions,
    )

    def pack(key, pdf):
        return pd.DataFrame(
            {
                "fp": [key[0]],
                "blob": [bytes(serialize_positions(pdf[pos_col].tolist()))],
            }
        )

    return [
        (row["fp"], deserialize_positions(bytes(row["blob"])))
        for row in matched.select(fp_col, pos_col)
        .groupBy(fp_col)
        .applyInPandas(pack, "fp string, blob binary")
        .collect()
    ]
