"""Oracle-differential tests: every registered query with an oracle must
match DuckDB exactly (row count + values) — the local mirror of the
driver's t2 correctness gate."""

import pytest

from aws_glue_data_lake_spark.oracle import compare_result, run_oracle
from aws_glue_data_lake_spark.queries import all_oracles, all_queries
from test_plan_sweep import plan_invariant_violations

QUERIES = all_queries()
ORACLES = all_oracles()


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, sf_dir):
    spark_df = QUERIES[name](spark, sf_dir)
    # the registry-wide plan invariants, read before the DataFrame runs
    # (test_no_rows_only_queries pins that every query is checked here)
    bad_plan = plan_invariant_violations(name, spark_df)
    assert not bad_plan, f"{name}: " + "; ".join(bad_plan)
    oracle_pdf = run_oracle(ORACLES[name], sf_dir)
    problems = compare_result(spark_df, oracle_pdf)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_no_rows_only_queries():
    """Every registered query carries a DuckDB oracle — the driver's
    strongest check. This pins the invariant: a new query landing without
    an oracle fails here instead of silently downgrading to rows-only."""
    assert set(QUERIES) == set(ORACLES), sorted(set(QUERIES) - set(ORACLES))


def test_registry_order_drains_driver_backlog():
    """The driver checks only ~50 queries per round, in registry order —
    so the order IS the drain policy (VERDICT r6 item 1): queries with no
    driver-green row ever come first, and green queries rotate
    oldest-green-first. This pins the tiers."""
    from aws_glue_data_lake_spark.queries import (
        _green_round_by_query,
        all_queries,
    )

    green = _green_round_by_query()
    if not green:
        pytest.skip("no CORRECTNESS history on disk")
    names = list(all_queries())

    def tier(n):
        return 1 if n in green else 0

    tiers = [tier(n) for n in names]
    assert tiers == sorted(tiers), (
        "registry order violates backlog-first tiers at: "
        + str([
            (names[i], tiers[i])
            for i in range(1, len(tiers))
            if tiers[i] < tiers[i - 1]
        ][:5])
    )
    # green tail rotates oldest-green-first
    green_rounds = [green[n] for n in names if n in green]
    assert green_rounds == sorted(green_rounds)
