"""translate_ch_sql: a statement's passes, then the token scan that
rewrites function calls, array literals and subscripts, resolving each
function name through lookup()."""

from __future__ import annotations

import re
from dataclasses import replace

from .lookup import lookup
from .settings import _SETTINGS, DialectSettings
from .sqltext import (
    _NAME_RE, _find_matching, _find_matching_paren, _scan_mask,
    _split_top_args,
)
from .statements import _STATEMENT_PASSES, _strip_output_clauses
from .tables import _ENGINE_HASHES


def translate_ch_sql(
    sql: str,
    allow_hash_substitution: bool = False,
    settings: DialectSettings | None = None,
) -> str:
    """Rewrite known ClickHouse function calls in `sql` to Spark SQL.

    Raises :class:`UntranslatableFunctionError` on engine-specific hash
    functions (cityHash64/sipHash64/halfMD5/farmHash64) unless
    `allow_hash_substitution=True`, which substitutes xxhash64 with a
    warning — the VALUES differ from ClickHouse's.

    `settings` carries the session's dialect settings (default:
    ClickHouse's defaults). A statement's SETTINGS tail overrides them
    for that statement only — a subquery's tail for that subquery only
    — so the output depends on nothing but the arguments.

    Statement-level: `GROUP BY ... WITH TOTALS` rewrites to the
    equivalent GROUPING SETS form (totals row keys arrive as NULL, not
    ClickHouse's type defaults — aggregate values identical);
    `LIMIT n BY keys` to a row_number() window wrap; fractional
    `SAMPLE 0.1` to `TABLESAMPLE (10 PERCENT)` (NOTE: CH SAMPLE is
    deterministic over the table's sample key, TABLESAMPLE is per-run
    Bernoulli — same fraction, different rows each run; use
    operators/sampling for reproducible selection).
    """
    return _statement(
        sql, allow_hash_substitution, settings or DialectSettings()
    )


def translate_ch_expr(
    expr: str, settings: DialectSettings | None = None
) -> str:
    """Translate one ClickHouse expression (a default, a predicate, a
    TTL) to Spark SQL: :func:`translate_ch_sql` in SELECT position."""
    return translate_ch_sql(f"SELECT {expr}", settings=settings)[
        len("SELECT "):
    ]

#: a parenthesised group or argument list that is itself a query
_STATEMENT_HEAD_RE = re.compile(r"(?i)[\s(]*(?:SELECT|WITH)\b")


def _group(sql: str, allow_hash_substitution: bool) -> str:
    """Translate the text inside a parenthesised group or a call's
    argument list: a subquery is a statement of its own (its SETTINGS
    tail, its statement passes); anything else is only scanned."""
    if _STATEMENT_HEAD_RE.match(sql):
        return _statement(sql, allow_hash_substitution, _SETTINGS.get())
    return _scan(sql, allow_hash_substitution)


def _statement(
    sql: str, allow_hash_substitution: bool, base: DialectSettings
) -> str:
    """One statement: its SETTINGS tail scopes `base` overrides to it,
    then the whole-statement passes run once, then the token scan."""
    sql, overrides = _strip_output_clauses(sql)
    token = _SETTINGS.set(replace(base, **overrides))
    try:
        for rewrite in _STATEMENT_PASSES:
            sql = rewrite(sql)
        sql = _scan(sql, allow_hash_substitution)
    finally:
        _SETTINGS.reset(token)
    # restore Spark-native range() TVFs planted by the numbers() rewrite
    # (the scan would have mistaken `range(` for CH's array range())
    return _fix_named_struct_positional(
        sql.replace("__cas_range__(", "range(")
    )


def _scan(sql: str, allow_hash_substitution: bool) -> str:
    """The token scan: rewrite function calls, array literals and
    subscripts, recursing into groups (_group) without re-running the
    statement passes."""

    def subscripts(expr: str, k: int, allow_space: bool = True) -> tuple[str, int]:
        # CH postfix indexing `expr[i]` is 1-based (maps: by key) —
        # exactly Spark's element_at; Spark's own `[ ]` would be 0-based.
        # Space before the bracket is only consumed after call/literal
        # bases (allow_space): after a BARE identifier, `x [1]` could be
        # a keyword + array literal (`... IN [1, 2]`), so adjacency is
        # required there.
        while k < len(sql):
            j2 = k
            if allow_space:
                while j2 < len(sql) and sql[j2] in " \t\n":
                    j2 += 1
            if j2 >= len(sql) or sql[j2] != "[":
                break
            close_b = _find_matching(sql, j2, "[", "]")
            if close_b == -1:
                break
            idx = _scan(sql[j2 + 1 : close_b], allow_hash_substitution)
            expr = f"element_at({expr}, {idx})"
            k = close_b + 1
        return expr, k

    out: list[str] = []
    i = 0
    n = len(sql)
    while i < n:
        c = sql[i]
        if c == "'":  # skip string literals verbatim
            j = i + 1
            while j < n:
                if sql[j] == "\\":
                    j += 2
                    continue
                if sql[j] == "'":
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
            continue
        if c == "(":
            # parenthesized group translated as a unit so a following
            # subscript attaches to IT — `(expr)[1]` is valid CH (and
            # what scalar-WITH alias inlining produces for array
            # aliases); char-by-char passthrough would hand the bracket
            # to the array-literal branch below
            close_p = _find_matching_paren(sql, i)
            if close_p != -1:
                inner = _group(sql[i + 1 : close_p], allow_hash_substitution)
                expr, i = subscripts(
                    f"({inner})", close_p + 1, allow_space=False
                )
                out.append(expr)
                continue
        if c == "[":
            # bare bracket = ClickHouse array literal -> array(...)
            # (subscripts are consumed right after their base expression
            # below, so they never reach this branch)
            close_b = _find_matching(sql, i, "[", "]")
            if close_b != -1:
                inner = _scan(sql[i + 1 : close_b], allow_hash_substitution)
                expr = f"array({', '.join(_split_top_args(inner))})"
                expr, i = subscripts(expr, close_b + 1)
                out.append(expr)
                continue
        m = _NAME_RE.match(sql, i)
        if not m:
            out.append(c)
            i += 1
            continue
        name = m.group(0)
        j = m.end()
        # function call?
        if j < n and sql[j] == "(":
            close = _find_matching_paren(sql, j)
            if close == -1:
                out.append(sql[i:])
                break
            inner = _group(sql[j + 1 : close], allow_hash_substitution)
            args = _split_top_args(inner)
            # parametric form: name(params)(args)
            k = close + 1
            par = lookup(name, parametric=True) if sql[k:k + 1] == "(" else None
            if par is not None:
                close2 = _find_matching_paren(sql, k)
                if close2 != -1:
                    inner2 = _group(
                        sql[k + 1 : close2], allow_hash_substitution
                    )
                    expr = par(_split_top_args(inner2), params=args)
                    expr, i = subscripts(expr, close2 + 1)
                    out.append(expr)
                    continue
            if name in _ENGINE_HASHES and allow_hash_substitution:
                import warnings

                warnings.warn(
                    f"substituting xxhash64 for {name}: values differ "
                    "from ClickHouse's",
                    stacklevel=2,
                )
                out.append(f"xxhash64({', '.join(args)})")
                i = close + 1
                continue
            # keyword guard: `ANY (SELECT ...)` / `any(SELECT ...)` is the
            # quantified-comparison keyword, not the aggregate — leave it.
            keyword = name.lower() in ("any", "all", "some") and args and (
                args[0].lstrip().upper().startswith("SELECT"))
            entry = None if keyword else lookup(name)
            if entry is not None:
                expr = entry(args)
            else:
                expr = f"{name}({', '.join(args)})"
            expr, i = subscripts(expr, close + 1)
            out.append(expr)
        else:
            expr, i = subscripts(name, j, allow_space=False)
            out.append(expr)
    return "".join(out)


_NS_COL_RE = re.compile(r"\)\.col(\d+)\b")


def _fix_named_struct_positional(sql: str) -> str:
    """CH positional tuple access on a NAMED tuple: the `.N` rewrite
    emits `.colN` (struct()'s field names), but formatters that return
    `named_struct('t_statistic', ..., 'p_value', ...)` — ttest,
    proportionsZTest, sumCount — have real field names, so `.colN`
    fails with FIELD_NOT_FOUND. Post-pass: where `.colN` directly
    follows a named_struct(...) call, replace it with the N-th field's
    actual name."""
    while True:
        mask = _scan_mask(sql)
        changed = False
        for m in _NS_COL_RE.finditer(sql):
            if mask[m.start()][1]:
                continue
            close = m.start()
            depth = 0
            open_idx = -1
            for k in range(close, -1, -1):
                if mask[k][1]:
                    continue
                if sql[k] == ")":
                    depth += 1
                elif sql[k] == "(":
                    depth -= 1
                    if depth == 0:
                        open_idx = k
                        break
            if open_idx <= 0:
                continue
            h_end = open_idx
            h_start = h_end
            while h_start > 0 and (
                sql[h_start - 1].isalnum() or sql[h_start - 1] == "_"
            ):
                h_start -= 1
            if sql[h_start:h_end] != "named_struct":
                continue
            # depth-1 split of the args; even positions are the quoted
            # field names
            inner = sql[open_idx + 1 : close]
            imask = _scan_mask(inner)
            parts, d, last = [], 0, 0
            for i2, ch in enumerate(inner):
                if imask[i2][1]:
                    continue
                if ch in "([":
                    d += 1
                elif ch in ")]":
                    d -= 1
                elif ch == "," and d == 0:
                    parts.append(inner[last:i2])
                    last = i2 + 1
            parts.append(inner[last:])
            idx = int(m.group(1))
            name_pos = 2 * (idx - 1)
            if name_pos >= len(parts):
                continue
            fname = parts[name_pos].strip()
            if not (fname.startswith("'") and fname.endswith("'")):
                continue
            sql = (
                f"{sql[: m.start()]}).{fname[1:-1]}{sql[m.end():]}"
            )
            changed = True
            break
        if not changed:
            return sql
