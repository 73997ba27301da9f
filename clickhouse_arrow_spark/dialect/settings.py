"""The ClickHouse settings that change how a statement translates:
DialectSettings, the per-statement value the scan reads, and the
SETTINGS-tail checks."""

from __future__ import annotations

from contextvars import ContextVar
from dataclasses import dataclass

from .registry import UntranslatableFunctionError


@dataclass(frozen=True)
class DialectSettings:
    """The ClickHouse settings that change how a statement translates
    (HONORED_SETTINGS names them). The client builds one from the
    session's SET values; a statement's SETTINGS tail overrides it for
    that statement only."""

    #: splitBy* keeps the remainder in the last element (legacy CH)
    #: instead of discarding it (CH 23.12+)
    splitby_includes_remaining: bool = False
    #: formatDateTime/parseDateTime %M is the full month name (CH
    #: 23.4+) instead of the legacy minutes
    m_is_month_name: bool = True
    #: per-group row limit of the point-statistic fold contract
    #: (engine extension, _guard_fold)
    max_fold_group_rows: int = 10_000_000


#: the settings of the statement being translated. Each statement sets
#: it and resets it with its token (_statement), so a value never
#: outlives its statement and a thread sees only its own statements'.
_SETTINGS: ContextVar[DialectSettings] = ContextVar(
    "dialect_settings", default=DialectSettings()
)


#: settings whose non-matching value CHANGES RESULTS (not just
#: execution) — stripping those silently would be a wrong-answer trap.
#: value = (the behavior this engine already has, divergence recipe)
_SEMANTIC_SETTINGS: dict[str, tuple[set, str]] = {
    "join_use_nulls": (
        {"1", "true"},
        "outer-join non-matches are NULL here (Spark/ANSI semantics = "
        "join_use_nulls=1); ClickHouse's default 0 fills TYPE DEFAULTS "
        "instead — wrap the nullable side's columns in "
        "coalesce(col, 0 / '' / toDate(0)) to reproduce it",
    ),
    "group_by_use_nulls": (
        {"1", "true"},
        "ROLLUP/CUBE/GROUPING SETS super-aggregate rows carry NULL "
        "group keys here (= group_by_use_nulls=1); ClickHouse's "
        "default 0 fills type defaults — coalesce the grouping "
        "columns to reproduce it",
    ),
    "aggregate_functions_null_for_empty": (
        {"0", "false"},
        "aggregates over the empty set keep their default values here "
        "(count=0, sum=NULL per ANSI); =1 rewrites EVERY aggregate to "
        "its -OrNull form — spell the -OrNull combinator explicitly "
        "(sumOrNull, countOrNull, ...) instead",
    ),
    "final": (
        {"0", "false"},
        "SETTINGS final=1 applies FINAL to every table in the query — "
        "write `FROM <table> FINAL` explicitly; ddl.rewrite_final "
        "folds the table's engine semantics (Replacing/Summing/"
        "Collapsing/VersionedCollapsing/Aggregating)",
    ),
}


#: the ClickHouse settings that change translation -> the
#: DialectSettings field each one sets
HONORED_SETTINGS = {
    "splitby_max_substrings_includes_remaining_string":
        "splitby_includes_remaining",
    "formatdatetime_parsedatetime_m_is_month_name": "m_is_month_name",
    "max_fold_group_rows": "max_fold_group_rows",
}


def honored_setting(name: str, value: str) -> dict:
    """The DialectSettings override {field: value} for one honored
    setting given as SET/SETTINGS text: a flag is on for 1/true, the
    row limit is an integer (at least 1)."""
    field = HONORED_SETTINGS[name]
    value = value.strip().strip("'\"").lower()
    if field != "max_fold_group_rows":
        return {field: value in ("1", "true")}
    try:
        return {field: max(int(value), 1)}
    except ValueError:
        raise UntranslatableFunctionError(
            f"{name} = {value}: needs an integer row limit"
        ) from None


def _check_semantic_settings(clause: str) -> tuple[dict, bool]:
    """`clause` is the text after the SETTINGS keyword; raise on any
    result-changing setting whose value differs from this engine's
    behavior. Returns the honored settings as DialectSettings field
    overrides for THIS statement, and True if any setting was merely
    STRIPPED (so the caller should warn) — honored settings don't
    trigger the warning."""
    overrides: dict = {}
    any_stripped = False
    for part in clause.split(","):
        if "=" not in part:
            continue
        k, v = part.split("=", 1)
        k = k.strip().lower()
        v = v.strip().strip("'\"").lower()
        if k in HONORED_SETTINGS:
            overrides.update(honored_setting(k, v))
            continue
        known = _SEMANTIC_SETTINGS.get(k)
        if known and v not in known[0]:
            raise UntranslatableFunctionError(
                f"SETTINGS {k} = {v} changes query RESULTS, not just "
                f"execution: {known[1]}"
            )
        any_stripped = True
    return overrides, any_stripped
