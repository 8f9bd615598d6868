"""Routing/filter predicate config → native Column compiler.

go-logagent outputs/filters apply per-plugin conditions (tags / field
values) to decide which events they touch (SURVEY.md §2.2 row F5, §2.8 O5).
We compile the condition config to one boolean Column — Catalyst can then
push it down / simplify it; predicates NEVER run in Python.

Config keys (all optional, AND-ed together):
    tags_include: [t, ...]   event has ALL of these tags
    tags_any:     [t, ...]   event has AT LEAST ONE of these tags
    tags_exclude: [t, ...]   event has NONE of these tags
    field_equals: {col: value, ...}
    field_in:     {col: [v, ...], ...}
    text_rlike:   regex      cheap native prefilter (Sparser-style)
    expr:         SQL boolean expression string (escape hatch)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


PREDICATE_KEYS = frozenset(
    {"tags_include", "tags_any", "tags_exclude", "field_equals", "field_in", "text_rlike", "expr"}
)


def check_predicate(cond: dict | None) -> None:
    """Raise ValueError on a clause key outside the documented set: a
    misspelt key (e.g. `tag_include`) would otherwise add no clause, so
    the predicate would match every row."""
    unknown = set(cond or ()) - PREDICATE_KEYS
    if unknown:
        raise ValueError(
            f"unknown predicate keys {sorted(unknown)}; expected any of {sorted(PREDICATE_KEYS)}"
        )


def compile_predicate(cond: dict | None, tags_col: str = "tags") -> Column:
    check_predicate(cond)
    if not cond:
        return F.lit(True)
    clauses: list[Column] = []
    for t in cond.get("tags_include", []):
        clauses.append(F.array_contains(F.col(tags_col), t))
    if cond.get("tags_any"):
        any_c = None
        for t in cond["tags_any"]:
            c = F.array_contains(F.col(tags_col), t)
            any_c = c if any_c is None else (any_c | c)
        clauses.append(any_c)
    for t in cond.get("tags_exclude", []):
        clauses.append(~F.array_contains(F.col(tags_col), t))
    for col, val in (cond.get("field_equals") or {}).items():
        clauses.append(F.col(col).eqNullSafe(F.lit(val)))
    for col, vals in (cond.get("field_in") or {}).items():
        clauses.append(F.col(col).isin(list(vals)))
    if cond.get("text_rlike"):
        clauses.append(F.col("text").rlike(cond["text_rlike"]))
    if cond.get("expr"):
        clauses.append(F.expr(cond["expr"]))
    if not clauses:
        return F.lit(True)
    out = clauses[0]
    for c in clauses[1:]:
        out = out & c
    return out
