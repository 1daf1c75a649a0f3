"""Row-level DML planning shared by the three table formats.

The Delta Lake paper (VLDB 2020) §3 describes UPDATE, DELETE and MERGE
as one pattern: find the files that hold matching rows, record the
change, and commit it in one record. This module holds the
format-independent half of that pattern:

- :func:`as_column` turns a SQL string or Column predicate/assignment
  into a Column;
- :func:`check_assignments` rejects an UPDATE that assigns to a column
  the table does not have;
- copy-on-write (UPDATE, the UniForm DELETE): :func:`affected_files`
  names the files holding a matching row, from a scan that carries a
  file-path column, and :func:`split_rows` splits their live rows into
  kept, matched and updated rows;
- merge-on-read DELETE: :func:`pack_positions` groups the matched rows'
  positions per file, :func:`fold_positions` unions them with each
  file's prior tombstones (an empty result means commit nothing), and
  :func:`write_position_file` writes the flat (file, position) parquet
  that lake sidecars and Iceberg v2 position deletes share.

Each format keeps what really differs: how a snapshot is scanned (its
file-path and position columns, whether tombstones apply before the
probe), its column rules (Delta identity, generated columns, row
tracking, CDF), CHECK constraints, its tombstone encoding, and its
staging and commit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
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
    """Each file's sorted positions (``fp_col`` -> its ``pos_col``
    values over the ``matched`` rows). The positions are roaring-packed
    per file on the executors (``applyInPandas``), so the shuffle and
    the collect move one blob per touched file; the caller then holds
    every matched position, deserialized into a list."""
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


def fold_positions(
    packed: list[tuple[str, list[int]]],
    prior: Callable[[str], list[int] | None],
) -> list[tuple[str, list[int]]]:
    """``(fp, sorted positions)`` for each file in ``packed`` whose
    positions, unioned with its prior tombstones (``prior(fp)``, or
    None), form a larger set than the prior ones alone. Matches that
    are already tombstoned add nothing, so an empty result means the
    DELETE commits nothing."""
    folded = []
    for fp, positions in packed:
        old = set(prior(fp) or ())
        new = old.union(positions)
        if len(new) > len(old):
            folded.append((fp, sorted(new)))
    return folded


def expand_tombstones(
    spark: SparkSession, descs: list[tuple], ddl: str, fetch
) -> DataFrame:
    """The ``(file_path, pos)`` rows of stored deletion vectors, for a
    merge-on-read scan's anti-join. Each row of ``descs`` (schema
    ``ddl``, data file path first) ships to an executor in its own slice
    (cap 32; ``local_df`` runs no job to build them), where
    ``fetch(row)`` returns that DV's roaring blob to expand."""
    import pandas as pd

    from aws_glue_data_lake_spark.localdf import local_df

    def expand(batches):
        from aws_glue_data_lake_spark.roaring64 import deserialize_positions

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                yield pd.DataFrame(
                    {
                        "file_path": row[0],
                        "pos": deserialize_positions(fetch(row)),
                    }
                )

    return local_df(
        spark, descs, ddl, slices=min(len(descs), 32)
    ).mapInPandas(expand, "file_path string, pos long")


def write_position_file(
    path: str,
    positions: list[tuple[str, list[int]]],
    fp_col: str,
    pos_col: str,
) -> int:
    """Write ``(fp, sorted positions)`` pairs with pyarrow, no Spark job,
    as one parquet file of ``(fp_col string, pos_col long)`` rows,
    sorted by file and then position; return its row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(fp, p) for fp, pos in sorted(positions) for p in pos]
    pq.write_table(
        pa.table(
            [pa.array([fp for fp, _ in rows], pa.string()),
             pa.array([p for _, p in rows], pa.int64())],
            names=[fp_col, pos_col],
        ),
        path,
    )
    return len(rows)
