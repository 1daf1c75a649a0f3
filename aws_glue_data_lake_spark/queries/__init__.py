"""Named-query registry: every implemented operator from SURVEY.md §2 is a
(PySpark callable, DuckDB oracle SQL) pair keyed by name. The driver runs
both sides at sf0.01 and hash-compares (see __spark_entry__.py)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from aws_glue_data_lake_spark.queries import (
    cdc_queries,
    dedup,
    multimodal,
    relational,
    sampling,
    scalars,
    similarity,
    streaming_queries,
    subqueries,
    textops,
    windows,
)

# Registry order is the order the round driver iterates (and, if it caps the
# number of queries it checks per round, the order that decides WHICH get a
# CORRECTNESS row).  Round 1 checked exactly the first 50 names, so the 24
# families that missed out (dedup / sampling / similarity / text / multimodal
# / streaming) now come first; the relational tail already has green rows in
# CORRECTNESS_r01.json.
_MODULES = (
    dedup,
    sampling,
    similarity,
    textops,
    multimodal,
    streaming_queries,
    cdc_queries,
    relational,
    subqueries,
    windows,
    scalars,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

def _green_round_by_query() -> dict[str, int]:
    """Latest round in which each query held a fully GREEN driver row
    (rows_match AND schema_match AND hash_match). Err/partial rows do NOT
    count as checked — a query that erred must sort ahead of green ones so
    the driver's bounded per-round prefix re-checks it (round 2 lost
    ``agg_approx_distinct_customers`` to exactly that bug: its r1 err row
    made it look 'checked' and the 50-query cap cut it again)."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    green: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if (
                row.get("rows_match")
                and row.get("schema_match", True)
                and row.get("hash_match", True)
                and not row.get("err")
            ):
                green[name] = max(green.get(name, 0), rnd)
    return green


def all_queries() -> dict[str, QueryFn]:
    """Registry, ordered for the driver's bounded per-round check: queries
    with no green row ever (new, or erred last time) first in module order,
    then green queries rotated oldest-green-round-first so every query gets
    re-confirmed every couple of rounds under a 50-query cap. Set
    SPARK_GRAFT_NO_REORDER=1 for plain module order (reproducible runs
    independent of which CORRECTNESS_r*.json files are on disk)."""
    import os

    out: dict[str, QueryFn] = {}
    for m in _MODULES:
        overlap = out.keys() & m.REGISTRY.queries.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.REGISTRY.queries)
    if os.environ.get("SPARK_GRAFT_NO_REORDER"):
        return out
    green = _green_round_by_query()
    if green:
        # Never-green backlog (-1) first, then green rotated oldest-first.
        # sorted() is stable: ties keep module order.
        out = dict(sorted(out.items(), key=lambda kv: green.get(kv[0], -1)))
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.REGISTRY.oracles)
    return out
