"""Chained conditional WHEN MATCHED clauses — delta-spark's

``.whenMatchedUpdate(condition=..., set={...})
  .whenMatchedDelete(condition=...)``

chain (the generalization of the reference's single
``whenMatchedDelete``, reference delta/delta_tables.py:159-160) —
shared between the Delta, Iceberg and lake writers and the SQL front
door, so first-match-wins semantics are identical on every layer.

A clause list is ordered; per matched (target, source) row pair the
FIRST clause whose condition holds wins; a matched row matching no
clause is carried UNCHANGED (delta-spark semantics). Conditions and
SET expressions are SQL strings referencing the target row as ``t.<col>``
and the source row as ``s.<col>`` (the SQL front door rewrites the
statement's own aliases onto these); bare names fail loudly as
ambiguous, never silently picking a side.

Execution model: the caller joins the matched target rows (alias
``t``) with the source (alias ``s``), stamps ``action_col`` (the
winning clause index, -1 = carried), drops rows whose winning clause
is a DELETE, and projects :func:`out_value` per table column — one
whole-stage-codegen CASE per column, zero extra shuffles beyond the
join the merge already pays.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: stamped by :func:`action_col`; consumed by out_value / delete filter
ACTION = "__mc_act"


def validate_matched_clauses(
    clauses: Sequence, table_cols: Sequence[str]
) -> list[tuple]:
    """Normalize + validate a clause list. Accepted item shapes:
    ``("update", condition_or_None, set_dict_or_None)`` (``set=None``
    means ``UPDATE SET *`` — replace with the source row) and
    ``("delete", condition_or_None)``. delta-spark's reachability rule
    is enforced: only the LAST clause may omit its condition (an
    unconditional earlier clause would shadow everything after it)."""
    if not clauses:
        raise ValueError("matched_clauses must be a non-empty list")
    known = set(table_cols)
    out: list[tuple] = []
    for i, cl in enumerate(clauses):
        cl = tuple(cl)
        if not cl or cl[0] not in ("update", "delete"):
            raise ValueError(
                f"matched clause #{i}: kind must be 'update' or "
                f"'delete', got {cl[:1]!r}"
            )
        kind = cl[0]
        cond = cl[1] if len(cl) > 1 else None
        if kind == "delete":
            if len(cl) > 2 and cl[2]:
                raise ValueError(
                    f"matched clause #{i}: 'delete' takes no SET"
                )
            out.append(("delete", cond, None))
        else:
            cset = cl[2] if len(cl) > 2 else None
            if cset is not None:
                if not isinstance(cset, dict) or not cset:
                    raise ValueError(
                        f"matched clause #{i}: 'update' SET must be a "
                        "non-empty {column: SQL expression} dict or "
                        "None for UPDATE SET *"
                    )
                bad = sorted(set(cset) - known)
                if bad:
                    raise ValueError(
                        f"matched clause #{i}: SET targets unknown "
                        f"column(s) {bad}"
                    )
            out.append(("update", cond, cset))
        if cond is None and i != len(clauses) - 1:
            raise ValueError(
                f"matched clause #{i} has no condition but is not "
                "last: every later clause would be unreachable "
                "(delta-spark's rule)"
            )
    return out


def action_col(clauses: Sequence[tuple]) -> Column:
    """The winning clause index for a matched (t, s) row pair — the
    first clause whose condition holds — or -1 (carry unchanged)."""
    w = None
    for i, (_kind, cond, _cset) in enumerate(clauses):
        hit = (
            F.coalesce(F.expr(cond), F.lit(False))
            if cond
            else F.lit(True)
        )
        w = F.when(hit, F.lit(i)) if w is None else w.when(hit, F.lit(i))
    return w.otherwise(F.lit(-1)) if w is not None else F.lit(-1)


def delete_indices(clauses: Sequence[tuple]) -> list[int]:
    return [i for i, cl in enumerate(clauses) if cl[0] == "delete"]


def out_value(
    clauses: Sequence[tuple],
    name: str,
    dtype,
    source_cols: Sequence[str],
) -> Column:
    """The post-merge value of table column ``name`` for a matched row
    (requires :data:`ACTION` stamped): per update clause, the SET
    expression when assigned, the source value under SET *, else the
    carried target value."""
    src = set(source_cols)
    w = None
    for i, (kind, _cond, cset) in enumerate(clauses):
        if kind != "update":
            continue
        if cset is None:  # UPDATE SET *
            v = (
                F.col(f"s.{name}") if name in src else F.col(f"t.{name}")
            )
        elif name in cset:
            v = F.expr(cset[name])
        else:
            v = F.col(f"t.{name}")
        hit = F.col(ACTION) == i
        w = F.when(hit, v) if w is None else w.when(hit, v)
    base = w.otherwise(F.col(f"t.{name}")) if w is not None \
        else F.col(f"t.{name}")
    return base.cast(dtype).alias(name)


def validate_not_matched_set(
    not_matched_set: dict | None,
    table_cols: Sequence[str],
    matched_clauses,
    not_matched_insert: bool,
) -> None:
    if not not_matched_set:
        return
    if matched_clauses is None:
        raise ValueError(
            "not_matched_set (column-list INSERT) requires "
            "matched_clauses"
        )
    if not not_matched_insert:
        raise ValueError(
            "not_matched_set contradicts not_matched_insert=False"
        )
    bad = sorted(set(not_matched_set) - set(table_cols))
    if bad:
        raise ValueError(
            f"NOT MATCHED INSERT targets unknown column(s) {bad}"
        )


def insert_projection(
    not_matched_set: dict,
    fields,
    fallback_cols: Sequence[str] = (),
) -> list[Column]:
    """Column-list INSERT (``WHEN NOT MATCHED THEN INSERT (cols)
    VALUES (exprs)``): project the insert set to the table schema —
    assigned columns evaluate their expression (bare source columns),
    unassigned columns NULL-pad (SQL MERGE semantics) EXCEPT those in
    ``fallback_cols``, which keep the value the writer synthesized on
    the source row (column DEFAULTs, generation expressions, IDENTITY
    values — delta-spark fills these, never NULL-pads them)."""
    fb = set(fallback_cols)
    return [
        (
            F.expr(not_matched_set[f.name])
            if f.name in not_matched_set
            else (F.col(f.name) if f.name in fb else F.lit(None))
        )
        .cast(f.dataType)
        .alias(f.name)
        for f in fields
    ]


def validate_not_matched_clauses(
    clauses: Sequence, table_cols: Sequence[str]
) -> list[tuple]:
    """Chained ``WHEN NOT MATCHED [AND p] THEN INSERT`` clauses —
    delta-spark's ``.whenNotMatchedInsert(condition=…, values=…)``
    chain. Item shape: ``(condition_or_None, set_dict_or_None)``
    where ``set=None`` means ``INSERT *``; per unmatched source row
    the FIRST clause whose condition holds wins, a row matching no
    clause does not insert. Reachability rule mirrors the matched
    side: only the LAST clause may omit its condition."""
    if not clauses:
        raise ValueError("not_matched_clauses must be a non-empty list")
    known = set(table_cols)
    out: list[tuple] = []
    for i, cl in enumerate(clauses):
        cl = tuple(cl)
        if len(cl) != 2:
            raise ValueError(
                f"not-matched clause #{i}: expected "
                "(condition_or_None, set_dict_or_None), got "
                f"{cl!r}"
            )
        cond, cset = cl
        if cset is not None:
            if not isinstance(cset, dict) or not cset:
                raise ValueError(
                    f"not-matched clause #{i}: INSERT set must be a "
                    "non-empty {column: SQL expression} dict or None "
                    "for INSERT *"
                )
            bad = sorted(set(cset) - known)
            if bad:
                raise ValueError(
                    f"not-matched clause #{i}: INSERT targets unknown "
                    f"column(s) {bad}"
                )
        if cond is None and i != len(clauses) - 1:
            raise ValueError(
                f"not-matched clause #{i} has no condition but is not "
                "last: every later clause would be unreachable "
                "(delta-spark's rule)"
            )
        out.append((cond, cset))
    return out


def normalize_nmbs(
    action,
    condition,
    aset,
    clauses,
    table_cols: Sequence[str],
) -> list[tuple] | None:
    """Normalize the NOT MATCHED BY SOURCE leg to a clause list —
    delta-spark's ``.whenNotMatchedBySourceUpdate(condition=, set=)
    .whenNotMatchedBySourceDelete(condition=)`` chain. Accepts either
    the legacy single-action params (``action``/``condition``/``aset``)
    or ``clauses`` (ordered ``("update", cond, set)`` / ``("delete",
    cond)``, first-match-wins per unmatched target row, carried when no
    clause fires; conditions/SETs reference bare TARGET columns).
    Returns None when the leg is absent."""
    if clauses is not None:
        if action is not None or condition or aset:
            raise ValueError(
                "not_matched_by_source_clauses cannot combine with "
                "the single-clause not_matched_by_source params (fold "
                "them into the clause list)"
            )
        out = validate_matched_clauses(clauses, table_cols)
        for i, (kind, _cond, cset) in enumerate(out):
            if kind == "update" and cset is None:
                raise ValueError(
                    f"NMBS clause #{i}: UPDATE SET * is meaningless "
                    "for NOT MATCHED BY SOURCE rows (there is no "
                    "source row) — name the assignments"
                )
        return out
    if action is None:
        return None
    return validate_matched_clauses(
        [(action, condition, aset if action == "update" else None)],
        table_cols,
    )


def nmbs_any_hit(clauses: Sequence[tuple]) -> Column:
    """True when ANY clause's condition holds (bare target columns) —
    the eligibility predicate for probe scans / CDF row selection."""
    out = None
    for _kind, cond, _cset in clauses:
        e = (
            F.coalesce(F.expr(cond), F.lit(False))
            if cond
            else F.lit(True)
        )
        out = e if out is None else (out | e)
    return out if out is not None else F.lit(False)


def nmbs_out_value(clauses: Sequence[tuple], name: str) -> Column:
    """Post-clause value of column ``name`` for an unmatched target
    row (requires :data:`ACTION` stamped with :func:`action_col`): the
    winning update clause's assignment when present, else the carried
    value."""
    w = None
    for i, (kind, _cond, cset) in enumerate(clauses):
        if kind != "update":
            continue
        v = F.expr(cset[name]) if name in cset else F.col(name)
        hit = F.col(ACTION) == i
        w = F.when(hit, v) if w is None else w.when(hit, v)
    base = w.otherwise(F.col(name)) if w is not None else F.col(name)
    return base.alias(name)


def resolve_not_matched(
    not_matched_clauses,
    not_matched_insert: bool,
    not_matched_condition,
    not_matched_set,
    table_cols: Sequence[str],
    matched_clauses,
) -> list[tuple] | None:
    """One validation entry for the NOT MATCHED leg: returns the
    normalized clause list when ``not_matched_clauses`` is given
    (refusing contradictory legacy params), else validates the legacy
    single-clause params and returns None (caller keeps the legacy
    path)."""
    if not_matched_clauses is None:
        validate_not_matched_set(
            not_matched_set, table_cols, matched_clauses,
            not_matched_insert,
        )
        return None
    if matched_clauses is None:
        raise ValueError(
            "not_matched_clauses requires matched_clauses"
        )
    if not_matched_condition or not_matched_set:
        raise ValueError(
            "not_matched_clauses cannot combine with "
            "not_matched_condition/not_matched_set (fold them into "
            "the clause list)"
        )
    if not not_matched_insert:
        raise ValueError(
            "not_matched_clauses contradicts not_matched_insert=False"
        )
    return validate_not_matched_clauses(
        not_matched_clauses, table_cols
    )


def not_matched_action_col(clauses: Sequence[tuple]) -> Column:
    """The winning not-matched clause index for an unmatched source
    row — the first clause whose condition (over bare source columns)
    holds — or -1 (do not insert)."""
    w = None
    for i, (cond, _cset) in enumerate(clauses):
        hit = (
            F.coalesce(F.expr(cond), F.lit(False))
            if cond
            else F.lit(True)
        )
        w = F.when(hit, F.lit(i)) if w is None else w.when(hit, F.lit(i))
    return w.otherwise(F.lit(-1)) if w is not None else F.lit(-1)


def not_matched_projection(
    clauses: Sequence[tuple],
    fields,
    source_cols: Sequence[str],
    fallback_cols: Sequence[str] = (),
) -> list[Column]:
    """Post-insert value per table column for an unmatched source row
    (requires :data:`ACTION` stamped with
    :func:`not_matched_action_col`): per clause, the assigned
    expression, the source value under INSERT *, else NULL-pad —
    except ``fallback_cols`` (writer-synthesized DEFAULT / generated /
    IDENTITY values), which keep the source-row value."""
    src = set(source_cols)
    fb = set(fallback_cols)
    out: list[Column] = []
    for f in fields:
        w = None
        for i, (_cond, cset) in enumerate(clauses):
            if cset is None:  # INSERT *
                v = (
                    F.col(f.name) if f.name in src
                    else F.lit(None)
                )
            elif f.name in cset:
                v = F.expr(cset[f.name])
            elif f.name in fb:
                v = F.col(f.name)
            else:
                v = F.lit(None)
            hit = F.col(ACTION) == i
            w = F.when(hit, v) if w is None else w.when(hit, v)
        base = w.otherwise(F.lit(None)) if w is not None else F.lit(None)
        out.append(base.cast(f.dataType).alias(f.name))
    return out


def updated_flag(clauses: Sequence[tuple]) -> Column:
    """True when the winning clause is an UPDATE (for CDF pre/post
    pairs and row-tracking version stamping)."""
    idx = [i for i, cl in enumerate(clauses) if cl[0] == "update"]
    return F.col(ACTION).isin(idx) if idx else F.lit(False)


def deleted_flag(clauses: Sequence[tuple]) -> Column:
    idx = delete_indices(clauses)
    return F.col(ACTION).isin(idx) if idx else F.lit(False)


def bounds_columns(keys: Sequence[str]) -> list[Column]:
    """The aggregate behind :func:`key_bounds`: the batch's row count
    and each key's min/max. ``operators.cdc.merge_cdc_batch`` hangs the
    same expressions on its staged batch as an ``Observation``, so both
    paths read one definition through :func:`read_bounds`."""
    return [
        F.count(F.lit(1)).alias("__n"),
        *[F.min(k).alias(f"__lo_{i}") for i, k in enumerate(keys)],
        *[F.max(k).alias(f"__hi_{i}") for i, k in enumerate(keys)],
    ]


def read_bounds(
    values, keys: Sequence[str]
) -> tuple[int, dict[str, tuple]]:
    """``(count, {key: (min, max)})`` from one evaluation of
    :func:`bounds_columns` (a ``Row`` or an ``Observation``'s dict)."""
    return values["__n"], {
        k: (values[f"__lo_{i}"], values[f"__hi_{i}"])
        for i, k in enumerate(keys)
    }


def key_bounds(
    df: DataFrame, keys: Sequence[str]
) -> tuple[int, dict[str, tuple]]:
    """ONE aggregate over a merge batch: its row count and each key's
    ``(min, max)`` — what the writers' file pruning needs (lake prunes
    on the lead key, Delta on every key, Iceberg's clause mode scans
    with them as a stats filter). min/max ignore NULL keys and NULL
    keys never equi-match, so pruning on these bounds stays sound; a
    batch of only NULL keys has ``(None, None)`` bounds, which prune
    nothing. Lake and Delta call this only when the caller passed no
    ``key_bounds`` (``operators.cdc.merge_cdc_batch`` observes the same
    aggregate on the action that stages its batch, so it runs no job
    of its own there)."""
    keys = list(keys)
    return read_bounds(df.agg(*bounds_columns(keys)).first(), keys)
