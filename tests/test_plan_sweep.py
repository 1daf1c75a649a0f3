"""Registry-WIDE physical-plan invariants (VERDICT r6 item 7): instead
of per-query pins, every registered query's executed plan is checked for
the three scale invariants that individual pins used to catch one at a
time — so the next `agg_equidepth_histogram`-class regression (a global
window smuggled in by a new query) fails CI, not the bench. The check
runs inside ``test_oracle_parity`` (``plan_invariant_violations``), on
the DataFrame that test already builds for every registered query.

Invariants:
(a) no CartesianProduct anywhere (broadcast-bounded scalar crosses plan
    as BroadcastNestedLoopJoin, which stays allowed);
(b) no UNPARTITIONED WindowExec over fact-sized input — allowlisted for
    the day/month-grid and per-source aggregates whose window input is
    dimension-sized by construction;
(c) no row-at-a-time BatchEvalPython outside the declared row-UDF
    queries (UDTFs evaluate row-wise by API design; everything else must
    be Arrow-batched or JVM-side).
"""

import re

#: Queries whose GLOBAL (unpartitioned) window runs over a provably
#: dimension-sized aggregate — day/month grids or per-source counts,
#: bounded by the calendar / source cardinality, not by the fact table.
#: Each entry names the bounding cardinality.
GLOBAL_WINDOW_OK = {
    "agg_mom_growth",                  # months grid (|months|)
    "dq_daily_value_drift",            # days grid (|days|)
    "window_cumulative_channel_compare",  # days grid (|days|)
    "window_rolling_correlation",      # days grid (|days|)
    "text_source_gini",                # per-source sizes (|sources|)
    "dq_chi2_type_hour",               # contingency table (|types| x 24)
}

#: Queries that intentionally demonstrate the row-evaluated Python UDF
#: surface (UDTF + LATERAL evaluates row-wise by API design — SURVEY
#: §2.11's two UDTF legs). Everything else must stay Arrow or JVM-side.
ROW_PYTHON_OK = {
    "events_udtf_polymorphic",
    "text_udtf_lateral_chunks",
}

def _bracket_groups(payload: str) -> list[str]:
    """Top-level [...] groups of a plan node line ('Window [a], [b], [c]'
    -> ['a', 'b', 'c']); windowspecdefinition uses parentheses, so nested
    brackets only come from frame specs and stay depth-tracked."""
    groups, depth, cur = [], 0, ""
    for ch in payload:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


def _global_window_lines(plan: str) -> list[str]:
    """Window nodes with NO partition spec. A Window line prints
    [functions], then optionally [partitionSpec], then optionally
    [orderSpec]. Three groups => partitioned. Two groups is ambiguous —
    the second is an ORDER spec (global window!) iff it carries sort
    directions, else it's the partition spec."""
    out = []
    for line in plan.splitlines():
        m = re.match(r"^[\s:+\-*]*Window\s+\[", line)
        if not m:
            continue
        groups = _bracket_groups(line[line.index("["):])
        if len(groups) >= 3:
            continue  # [funcs], [part], [order]
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[1]):
            continue  # [funcs], [part] (no order)
        out.append(line.strip()[:160])
    return out


def plan_invariant_violations(name: str, df) -> list[str]:
    """The three invariants above, checked on ``df``'s executed plan
    without running it. ``test_oracle_parity`` calls this on every
    registered query's DataFrame before it executes it, so the registry
    is built once for both checks."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    problems = []
    if "CartesianProduct" in plan:
        problems.append("CartesianProduct in the executed plan")
    if "BatchEvalPython" in plan and name not in ROW_PYTHON_OK:
        problems.append("undeclared row-at-a-time Python eval")
    if name not in GLOBAL_WINDOW_OK:
        lines = _global_window_lines(plan)
        if lines:
            problems.append(
                "unpartitioned WindowExec outside the dimension-sized "
                f"allowlist: {lines[0]}"
            )
    return problems


def test_allowlists_stay_minimal(spark):
    """The allowlists must not rot: every allowlisted name still exists in
    the registry (a renamed query would silently re-open the hole), and
    the equidepth histogram — the one genuine scale-killer VERDICT r6
    found — must never re-enter the global-window allowlist."""
    from aws_glue_data_lake_spark.queries import all_queries

    names = set(all_queries())
    assert GLOBAL_WINDOW_OK <= names
    assert ROW_PYTHON_OK <= names
    assert "agg_equidepth_histogram" not in GLOBAL_WINDOW_OK
