"""SQL text helpers shared by the statement passes and the formatters:
quote- and paren-aware matching and splitting, the depth/quote scan
mask, and small expression builders."""

from __future__ import annotations

import re

from .registry import Args, UntranslatableFunctionError
from .settings import _SETTINGS


#: expression heads that produce arrays/maps — used by empty()/notEmpty()
#: to pick size() over the string-only length() without type information
_ARRAYISH_HEAD_RE = re.compile(
    r"(?i)^\s*(?:\[|array\s*\(|collect_list\s*\(|collect_set\s*\(|"
    r"groupArray\w*\s*\(|groupUniqArray\s*\(|split\w*\s*\(|splitBy\w+\s*\(|"
    r"sequence\s*\(|range\s*\(|arrays_zip\s*\(|arrayMap\s*\(|"
    r"arrayFilter\s*\(|arraySort\s*\(|arrayConcat\s*\(|arraySlice\s*\(|"
    r"slice\s*\(|flatten\s*\(|array_distinct\s*\(|transform\s*\(|"
    r"map\s*\(|mapKeys\s*\(|mapValues\s*\(|shuffle\s*\(|"
    r"array_append\s*\(|array_intersect\s*\(|array_union\s*\(|"
    r"array_except\s*\(|array_remove\s*\(|array_repeat\s*\(|"
    r"array_compact\s*\(|reverse\s*\(\s*(?:\[|array\s*\()|filter\s*\(|"
    # array-returning functions that may already be TRANSLATED when an
    # outer length()/empty() is formatted (inner-out translation order)
    r"regexp_extract_all\s*\(|extractAll\s*\(|ngrams\s*\(|"
    r"alphaTokens\s*\(|bitmaskToArray\s*\()"
)


def _looks_arrayish(expr: str) -> bool:
    return bool(_ARRAYISH_HEAD_RE.match(expr))


def _safe_seq1(n_expr: str) -> str:
    """`sequence(1, n)` that is EMPTY when n <= 0 — Spark's
    sequence(1, 0) counts DOWN to [1, 0], which silently corrupts (or
    ANSI-crashes) every index-generation formatter on empty inputs."""
    return (
        f"filter(sequence(1, greatest({n_expr}, 1)), "
        f"_s1 -> _s1 <= ({n_expr}))"
    )


_LAMBDA_RE = re.compile(r"(?s)^\s*(\(([^()]*)\)|[A-Za-z_]\w*)\s*->\s*(.+)$")


def _lambda_params(lam: str) -> str:
    """'(k, v) -> expr' / 'x -> expr' -> the parameter list text."""
    m = _LAMBDA_RE.match(lam)
    if not m:
        raise UntranslatableFunctionError(f"expected a lambda, got {lam!r}")
    return m.group(2) if m.group(2) is not None else m.group(1)


def _lambda_body(lam: str) -> str:
    m = _LAMBDA_RE.match(lam)
    if not m:
        raise UntranslatableFunctionError(f"expected a lambda, got {lam!r}")
    return m.group(3)


def _subst_idents(expr: str, subs: dict) -> str:
    for name, repl in subs.items():
        expr = re.sub(rf"\b{re.escape(name)}\b", repl, expr)
    return expr


def _tuple_literal_elems(text: str):
    """Elements of a tuple literal — `(a, b)` or `struct(a, b)` (the
    translated form of `tuple(a, b)`) — or None if not one."""
    t = text.strip()
    if t.startswith("struct(") and t.endswith(")"):
        inner = t[7:-1]
    elif t.startswith("(") and t.endswith(")"):
        if _find_matching_paren(t, 0) != len(t) - 1:
            return None
        inner = t[1:-1]
    else:
        return None
    elems = [e.strip() for e in _split_top_args(inner)]
    return elems if all(elems) else None


def _scan_mask(sql: str) -> list[tuple[int, bool]]:
    """Per-character (paren depth, inside-quotes) mask for the
    statement-level rewrites — so clause keywords found by regex can be
    rejected when they sit inside a subquery, a string literal, or a
    quoted identifier. Three delimiter classes are masked: '...'
    string literals (backslash escapes), `...` and "..." quoted
    identifiers (ClickHouse treats both as identifiers; backslash
    escapes apply inside them too, `src/escape.rs` analogue)."""
    out: list[tuple[int, bool]] = []
    depth = 0
    closer: str | None = None  # the delimiter that ends the current run
    i = 0
    n = len(sql)
    while i < n:
        c = sql[i]
        if closer is not None:
            out.append((depth, True))
            if c == "\\" and i + 1 < n:
                out.append((depth, True))
                i += 2
                continue
            if c == closer:
                closer = None
            i += 1
            continue
        if c in ("'", "`", '"'):
            closer = c
            out.append((depth, True))
        elif c == "(":
            out.append((depth, False))
            depth += 1
        elif c == ")":
            depth -= 1
            out.append((depth, False))
        else:
            out.append((depth, False))
        i += 1
    return out


def _find_clean(pattern: "re.Pattern[str]", sql: str, start: int = 0,
                depth0: bool = True):
    """First regex match not inside a string literal (and at paren depth
    0 when `depth0`)."""
    m = pattern.search(sql, start)
    if m is None:
        return None  # no candidate: skip building the mask
    mask = _scan_mask(sql)
    while m and (mask[m.start()][1] or (depth0 and mask[m.start()][0] != 0)):
        m = pattern.search(sql, m.end())
    return m

_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _find_matching(s: str, open_idx: int, open_c: str, close_c: str) -> int:
    depth = 0
    closer: str | None = None
    i = open_idx
    while i < len(s):
        c = s[i]
        if closer is not None:
            if c == "\\":
                i += 1
            elif c == closer:
                closer = None
        elif c in ("'", "`", '"'):
            closer = c
        elif c == open_c:
            depth += 1
        elif c == close_c:
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return -1


def _find_matching_paren(s: str, open_idx: int) -> int:
    return _find_matching(s, open_idx, "(", ")")


def _split_top_args(s: str) -> Args:
    args: Args = []
    depth = 0
    closer: str | None = None
    cur: list[str] = []
    i = 0
    while i < len(s):
        c = s[i]
        if closer is not None:
            cur.append(c)
            if c == "\\" and i + 1 < len(s):
                cur.append(s[i + 1])
                i += 1
            elif c == closer:
                closer = None
        elif c in ("'", "`", '"'):
            closer = c
            cur.append(c)
        elif c in "([":
            depth += 1
            cur.append(c)
        elif c in ")]":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return args

#: round-10 (VERDICT r9 task #5): the point-statistic fold contract.
#: Collect-fold aggregates (rankCorr, LTTB, deltaSumTimestamp,
#: maxIntersections, entropy, intervalLengthSum, the EMA aggregate
#: form, -Resample, sumMap/minMap/maxMap SQL folds) hold ONE array per
#: group — the same state class ClickHouse's implementations hold —
#: but a group that isn't human-scale silently builds an unbounded
#: executor array. This promotes the SCALE.md prose fence to an
#: ENFORCED contract (the ivf max_query_rows precedent): the emitted
#: SQL size-guards the collected array and raises with the operator
#: recipe past the limit. Default generous (10M rows per group ~ the
#: memory CH itself would burn); SET-able per statement via
#: `SETTINGS max_fold_group_rows = n` (engine extension, documented)
#: or session-wide through the SET shim's namespaced conf
#: (DialectSettings.max_fold_group_rows).
def _guard_fold(arr_expr: str, op: str) -> str:
    """Wrap a point-statistic fold's collected array with the
    group-size contract: raise_error naming the operator and the
    recipe instead of silently materializing an unbounded array."""
    n = _SETTINGS.get().max_fold_group_rows
    msg = (
        f"{op}: group exceeds max_fold_group_rows ({n}) — this is a "
        "per-group POINT STATISTIC holding one array per group; bound "
        "the group (filter or bucket the key) or raise the limit with "
        "SETTINGS max_fold_group_rows = <n>"
    )
    return (
        f"(CASE WHEN size({arr_expr}) > {n} THEN "
        f"raise_error('{msg}') ELSE {arr_expr} END)"
    )


def _split_max_substrings(s: str, sep: str, n: str) -> str:
    """Emit the Spark expression for splitBy*(sep, s, max_substrings).

    Modern ClickHouse discards the remainder: splitByChar(',', 'a,b,,c', 2)
    = ['a','b'] — so split one extra piece, then slice it off. Spark's own
    positive split limit keeps the remainder in the last element, which is
    CH's LEGACY mode (setting = 1), honored via
    DialectSettings.splitby_includes_remaining. n <= 0 means unlimited
    (Spark's limit 0 would drop trailing empties, so it maps to -1).
    """
    if _SETTINGS.get().splitby_includes_remaining:
        return f"split({s}, {sep}, IF(({n}) <= 0, -1, {n}))"
    lit = re.fullmatch(r"\s*(-?\d+)\s*", n)
    if lit:
        # literal max_substrings (the common case): branch at
        # translation time so the emission stays a bare split/slice
        # call — downstream heuristics (length() -> size() on
        # arrayish args) read the head token
        k = int(lit.group(1))
        if k <= 0:
            return f"split({s}, {sep}, -1)"
        return f"slice(split({s}, {sep}, {k + 1}), 1, {k})"
    return (
        f"IF(({n}) <= 0, split({s}, {sep}), "
        f"slice(split({s}, {sep}, CAST({n} AS INT) + 1), 1, "
        f"CAST({n} AS INT)))"
    )
_AS_SPLIT_RE = re.compile(r"(?i)\s+AS\s+")


def _split_depth0(pattern: "re.Pattern[str]", s: str) -> list[str]:
    """Split `s` on `pattern` matches at paren depth 0 outside quotes."""
    mask = _scan_mask(s)
    parts, last = [], 0
    for m in pattern.finditer(s):
        if mask[m.start()][1] or mask[m.start()][0] != 0:
            continue
        parts.append(s[last : m.start()])
        last = m.end()
    parts.append(s[last:])
    return parts
