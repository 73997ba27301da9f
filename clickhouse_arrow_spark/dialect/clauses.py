"""Clause rewrites that need the translator itself: ORDER BY ... WITH
FILL extraction and the catalog-aware `* APPLY(f)` / `COLUMNS('re')`
expansion."""

from __future__ import annotations

import re

from .registry import UntranslatableFunctionError
from .scan import translate_ch_expr, translate_ch_sql
from .sqltext import _find_clean, _scan_mask, _split_top_args


# -- ORDER BY ... WITH FILL extraction (executed by Client.query_ch via
#    operators/timeseries.with_fill; the textual layer only parses) ----

_FILL_BOUND = (
    r"(?:-?\d+(?:\.\d+)?"               # numeric literal
    r"|'[^']+'"                          # date/timestamp string literal
    r"|toDate(?:Time)?\('[^']+'\))"      # toDate('...') / toDateTime('...')
)
_ORDER_FILL_RE = re.compile(
    r"(?is)\bORDER\s+BY\s+(`[^`]+`|[\w.]+)\s*(ASC|DESC)?\s+WITH\s+FILL"
    rf"(?:\s+FROM\s+({_FILL_BOUND}))?"
    rf"(?:\s+TO\s+({_FILL_BOUND}))?"
    r"(?:\s+STEP\s+(INTERVAL\s+\d+\s+\w+|-?\d+(?:\.\d+)?))?"
    r"(?:\s+STALENESS\s+(INTERVAL\s+\d+\s+\w+|-?\d+(?:\.\d+)?))?"
    r"(?:\s+INTERPOLATE\s*\(((?:[^()]|\([^()]*\))*)\))?"
)


def extract_with_fill(sql: str):
    """Split `ORDER BY col WITH FILL [FROM a] [TO b] [STEP s]
    [INTERPOLATE (cols)]` out of a statement: returns
    (sql_without_fill, spec_dict | None) where spec is {"col", "start",
    "end", "step", "interpolate"}. Numeric bounds parse to numbers;
    date/timestamp bounds ('2024-01-01', toDate('...')) stay strings
    for the operator to cast; STEP may be `INTERVAL n unit` for time
    axes. INTERPOLATE entries parse to a {col: expr-or-None} dict: a
    bare column means carry-forward (previous original value); `col AS
    expr` computes expr for filled rows over the LAST ORIGINAL row's
    values of the referenced columns (ClickHouse's previous-row
    semantics for single-row gaps and bare-carried references; for a
    non-interpolated reference across a multi-row gap ClickHouse would
    recurse row-to-row — that self-recursive family, `x AS x*2`, is
    refused). DESC fills and multiple fill columns are refused — each
    would silently change the added rows. STALENESS (numeric or
    INTERVAL) parses to spec["staleness"] — the operator keeps filled
    rows only within that distance of the last original row."""
    m = _find_clean(_ORDER_FILL_RE, sql)
    if m is None:
        return sql, None
    if _find_clean(_ORDER_FILL_RE, sql, start=m.end()):
        raise UntranslatableFunctionError(
            "multiple WITH FILL columns: one fill axis is supported "
            "(operators/timeseries.with_fill)"
        )
    if (m.group(2) or "").upper() == "DESC":
        raise UntranslatableFunctionError(
            "WITH FILL on a DESC ordering: fill ascending and sort the "
            "result, or negate the axis"
        )
    interpolate: dict[str, str | None] = {}
    if m.group(7) is not None:
        for item in _split_top_args(m.group(7)):
            item = item.strip()
            if not item:
                continue
            am = re.match(r"(?is)^(`[^`]+`|\w+)\s+AS\s+(.+)$", item)
            if am is None:
                interpolate[item.strip("`")] = None
                continue
            target = am.group(1).strip("`")
            expr = am.group(2).strip()
            if re.search(rf"(?<![\w`]){re.escape(target)}(?![\w`])", expr):
                raise UntranslatableFunctionError(
                    f"INTERPOLATE ({target} AS {expr}): the expression "
                    "references its own column, which recurses row-to-row "
                    "across filled gaps — a window cannot express that; "
                    "carry the column bare or compute downstream"
                )
            interpolate[target] = translate_ch_expr(expr)

    def bound(s):
        if s is None:
            return None
        s = s.strip()
        inner = re.match(r"(?i)toDate(?:Time)?\('([^']+)'\)", s)
        if inner:
            return inner.group(1)
        if s.startswith("'"):
            return s.strip("'")
        return float(s) if "." in s else int(s)

    def step_like(text):
        if not text:
            return None
        im = re.match(r"(?i)INTERVAL\s+(\d+)\s+(\w+)", text)
        if im:
            return ("interval", int(im.group(1)), im.group(2).lower())
        return float(text) if "." in text else int(text)

    step = step_like(m.group(5)) or 1
    staleness = step_like(m.group(6))

    col = m.group(1).strip("`").split(".")[-1]
    spec = {
        "col": col,
        "start": bound(m.group(3)),
        "end": bound(m.group(4)),
        "step": step,
        "staleness": staleness,
        "interpolate": interpolate,
    }
    direction = f" {m.group(2)}" if m.group(2) else ""
    replaced = f"ORDER BY {m.group(1)}{direction}"
    sql = sql[: m.start()] + replaced + sql[m.end():]
    return sql, spec


# ---------------------------------------------------------------------------
# * APPLY(f) / COLUMNS('re') — catalog-aware star expansion
# ---------------------------------------------------------------------------

#: clause keywords that terminate a scope's FROM...JOIN section (the
#: set-op EXCEPT is distinguished from the star-modifier EXCEPT by its
#: SELECT/ALL/DISTINCT/( follower)
_SCOPE_END_RE = re.compile(
    r"(?i)\b(?:WHERE|GROUP\s+BY|HAVING|WINDOW|QUALIFY|ORDER\s+BY|LIMIT|"
    r"SETTINGS|FORMAT|UNION|INTERSECT)\b"
    r"|\bEXCEPT\s*(?=SELECT\b|ALL\b|DISTINCT\b|\()"
)


def _from_scope_end(sql: str, start: int, depth: int) -> int:
    """End offset of the FROM...JOIN section that starts at `start` and
    lives at paren `depth`: the scope's closing paren, or the first
    same-depth terminator clause, whichever comes first. (Distinct from
    `_scope_end`, which finds the end of a whole SELECT scope.)"""
    mask = _scan_mask(sql)
    end = len(sql)
    for i in range(start, len(sql)):
        if not mask[i][1] and sql[i] == ")" and mask[i][0] < depth:
            end = i
            break
    k = start
    while True:
        m = _SCOPE_END_RE.search(sql, k)
        if not m or m.start() >= end:
            return end
        if not mask[m.start()][1] and mask[m.start()][0] == depth:
            return m.start()
        k = m.end()


def _analyze_scope_columns(spark, frag: str, src: str) -> list[str]:
    """Resolve a join/subquery scope's column set the way Spark itself
    does: translate the scope's FROM fragment and ANALYZE (not run) a
    zero-row probe — `spark.sql` resolves the schema eagerly, `.columns`
    launches no job."""
    try:
        probe = translate_ch_sql(f"SELECT * FROM {frag} LIMIT 0")
        return spark.sql(probe).columns
    except Exception as e:
        raise UntranslatableFunctionError(
            f"{src}: could not resolve this scope's columns "
            f"({type(e).__name__}: {str(e).splitlines()[0] if str(e) else e}) "
            "— use the DataFrame API "
            "(df.select([f(c).alias(c) for c in df.columns]))"
        ) from None


#: base (`*` or COLUMNS('re')) + optional EXCEPT + zero-or-more APPLY(f)
_APPLY_FAMILY_RE = re.compile(
    r"(?i)(?:(\*)|\bCOLUMNS\s*\(\s*'([^']*)'\s*\))"
    r"(\s+EXCEPT\s*(?:STRICT\s+)?\([^)]*\)"
    r"|\s+EXCEPT\s+(?!SELECT\b|ALL\b|DISTINCT\b|STRICT\b)[A-Za-z_]\w*)?"
    r"((?:\s+APPLY\s*(?:\([^()]*\)|[A-Za-z_]\w*))*)"
)
_APPLY_FN_RE = re.compile(r"(?i)APPLY\s*(\([^()]*\)|[A-Za-z_]\w*)")
_PLAIN_FROM_RE = re.compile(
    r"(?i)\bFROM\s+((?:`[^`]+`|[A-Za-z_]\w*)"
    r"(?:\.(?:`[^`]+`|[A-Za-z_]\w*))?)"
    r"(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|LIMIT\b|HAVING\b|JOIN\b|"
    r"UNION\b|EXCEPT\b|INTERSECT\b|SETTINGS\b|QUALIFY\b|WINDOW\b|ON\b|"
    r"USING\b|LEFT\b|RIGHT\b|INNER\b|FULL\b|CROSS\b|SEMI\b|ANTI\b|LATERAL\b)"
    r"[A-Za-z_]\w*)?\s*"
)


def rewrite_star_apply(spark, sql: str) -> str:
    """Expand ClickHouse's schema-dependent star modifiers — `* APPLY
    (f)`, `COLUMNS('re')`, and their EXCEPT/APPLY chains — into explicit
    projection lists, resolving the column set from the Spark catalog.

    Runs at `query_ch` time (the purely textual translator has no
    schema). Plain-table FROM scopes resolve straight from the catalog;
    join and subquery scopes resolve the way Spark itself does — the
    scope's FROM fragment is translated and ANALYZED with a LIMIT 0
    probe (no job runs), and the probe's `.columns` is the set
    ClickHouse's analyzer would expand. Per ClickHouse semantics:

    - `COLUMNS('re')` keeps columns whose NAME matches the RE2 pattern
      (partial match, case-sensitive);
    - `EXCEPT (a, b)` removes columns by name;
    - each `APPLY(f)` wraps every selected column: `f(c)`, and the
      OUTPUT NAME becomes `f(c)` too (ClickHouse names the result after
      the applied expression).
    """
    while True:
        m = _find_clean(_APPLY_FAMILY_RE, sql, depth0=False)
        while m is not None:
            star, col_re, exc, applies = m.groups()
            if star and not applies:
                # bare `*` (or `* EXCEPT`) needs no schema: Spark parses
                # those natively / via _rewrite_star_modifiers
                m = _find_clean(_APPLY_FAMILY_RE, sql, start=m.end(), depth0=False)
                continue
            break
        if m is None:
            return sql
        star, col_re, exc, applies = m.groups()
        mask = _scan_mask(sql)
        depth = mask[m.start()][0]
        fm = None
        k = m.end()
        while True:
            fm = _find_clean(re.compile(r"(?i)\bFROM\b"), sql, start=k, depth0=False)
            if fm is None or _scan_mask(sql)[fm.start()][0] <= depth:
                break
            k = fm.end()
        src = m.group(0).strip()
        if fm is None or _scan_mask(sql)[fm.start()][0] != depth:
            raise UntranslatableFunctionError(
                f"{src}: no resolvable FROM in this scope — APPLY/COLUMNS "
                "need the schema; use the DataFrame API "
                "(df.select([f(c).alias(c) for c in df.columns]))"
            )
        pm = _PLAIN_FROM_RE.match(sql, fm.start())
        nxt = sql[pm.end():].lstrip()[:8].upper() if pm else ""
        if pm is None or nxt.startswith(",") or re.match(
            r"(?:JOIN|LEFT|RIGHT|INNER|FULL|CROSS|SEMI|ANTI|LATERAL)\b", nxt
        ):
            # join / subquery scope: resolve the column set by analyzing
            # the scope's FROM fragment (LIMIT 0 probe, no job) — the
            # same column set ClickHouse's analyzer would expand
            end = _from_scope_end(sql, fm.end(), depth)
            frag = sql[fm.end(): end].strip()
            table = None
            cols = _analyze_scope_columns(spark, frag, src)
        else:
            table = pm.group(1)
            try:
                cols = spark.table(table).columns
            except Exception:
                raise UntranslatableFunctionError(
                    f"{src}: table {table} not found in the catalog"
                ) from None
        if col_re is not None:
            try:
                rx = re.compile(col_re)
            except re.error as e:
                raise UntranslatableFunctionError(
                    f"COLUMNS({col_re!r}): bad pattern ({e})"
                ) from None
            cols = [c for c in cols if rx.search(c)]
            if not cols:
                raise UntranslatableFunctionError(
                    f"COLUMNS({col_re!r}) matched no columns of "
                    f"{table or 'this scope'} "
                    "(ClickHouse errors on an empty match too)"
                )
        if exc:
            names = re.findall(r"[A-Za-z_]\w*", exc.split("EXCEPT", 1)[-1])
            cols = [c for c in cols if c not in names]
        fns = []
        for tok in _APPLY_FN_RE.findall(applies or ""):
            # both CH spellings: APPLY f and APPLY(f)
            inner = tok[1:-1].strip() if tok.startswith("(") else tok
            if not re.fullmatch(r"[A-Za-z_]\w*", inner):
                raise UntranslatableFunctionError(
                    f"{src}: APPLY supports a plain function name — for "
                    "lambdas or parameterized functions use the "
                    "DataFrame API"
                )
            fns.append(inner)
        items = []
        for c in cols:
            expr, name = f"`{c}`", c
            for f in fns:
                expr, name = f"{f}({expr})", f"{f}({name})"
            items.append(expr if not fns else f"{expr} AS `{name}`")
        sql = f"{sql[: m.start()]}{', '.join(items)}{sql[m.end():]}"
