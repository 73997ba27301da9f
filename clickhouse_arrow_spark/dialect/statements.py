"""The whole-statement passes: each rewrites one ClickHouse clause
shape (LIMIT BY, WITH TOTALS, ARRAY JOIN, QUALIFY, ...) into Spark SQL
before the token scan runs."""

from __future__ import annotations

import re

from .registry import UntranslatableFunctionError
from .settings import _check_semantic_settings
from .sqltext import (
    _AS_SPLIT_RE, _find_clean, _find_matching, _find_matching_paren,
    _guard_fold, _scan_mask, _split_depth0, _split_top_args,
)


_GROUP_BY_RE = re.compile(r"(?i)\bGROUP\s+BY\b")
_TOTALS_RE = re.compile(r"(?i)\bWITH\s+TOTALS\b")
#: clause keywords that END a group-by expression list — hitting one at
#: depth 0 means this GROUP BY has no TOTALS (CH places WITH TOTALS
#: immediately after the grouping expressions, before HAVING)
_GROUP_END_RE = re.compile(
    r"(?i)\b(HAVING|ORDER|LIMIT|WINDOW|QUALIFY|UNION|EXCEPT|INTERSECT|"
    r"SETTINGS|FORMAT)\b"
)


_SAMPLE_RE = re.compile(r"(?i)\bSAMPLE\s+(0?\.\d+|1\.0|(\d+)\s*/\s*(\d+))")


def _rewrite_sample(sql: str) -> str:
    """ClickHouse `FROM t SAMPLE 0.1` / `SAMPLE 1/10` -> Spark
    `TABLESAMPLE (10 PERCENT)`. Fractional forms only: `SAMPLE n` with
    integer n is ClickHouse's approximate-row-count form with no Spark
    equivalent and is left untouched (Spark then reports the clear
    parse error rather than silently sampling a different amount).

    Semantics note: CH SAMPLE is DETERMINISTIC over the table's
    declared sample key (same rows every run); Spark TABLESAMPLE
    (n PERCENT) is per-run Bernoulli. The sampled FRACTION matches,
    the selected ROWS differ run-to-run — callers needing reproducible
    samples should use operators/sampling (keyed modular buckets)."""
    while True:
        m = _find_clean(_SAMPLE_RE, sql, depth0=False)
        if not m:
            return sql
        if m.group(2):
            pct = 100.0 * int(m.group(2)) / int(m.group(3))
        else:
            pct = 100.0 * float(m.group(1))
        sql = f"{sql[: m.start()]}TABLESAMPLE ({pct:g} PERCENT){sql[m.end():]}"


#: `LIMIT n BY`, `LIMIT m, n BY`, and `LIMIT n OFFSET m BY` spellings
_LIMIT_BY_RE = re.compile(
    r"(?i)\bLIMIT\s+(?:(\d+)\s*,\s*)?(\d+)(?:\s+OFFSET\s+(\d+))?\s+BY\b"
)
_ORDER_BY_RE = re.compile(r"(?i)\bORDER\s+BY\b")
_AFTER_LIMIT_BY_RE = re.compile(r"(?i)\b(LIMIT|SETTINGS|FORMAT)\b")


def _rewrite_limit_by(sql: str) -> str:
    """ClickHouse `... [ORDER BY o] LIMIT n BY k [LIMIT m]` -> a
    row_number() window over the head query:

        SELECT * EXCEPT (_rn) FROM (
          SELECT _q.*, row_number() OVER (
            PARTITION BY k ORDER BY o|k) AS _rn FROM (<head>) AS _q
        ) WHERE _rn <= n [ORDER BY o] [LIMIT m]

    Top-level LIMIT BY only (a LIMIT BY inside a parenthesised FROM
    subquery is left as-is); ORDER BY expressions must be visible in
    the head's output (aliases are — they resolve against _q). Without
    ORDER BY, ClickHouse keeps arbitrary rows per key; the rewrite
    orders by the key expressions for determinism.
    """
    while True:
        m = _find_clean(_LIMIT_BY_RE, sql, depth0=False)
        if not m:
            return sql
        depth = _scan_mask(sql)[m.start()][0]
        if depth == 0:
            return _rewrite_limit_by_scope(sql)
        # nested: rewrite the enclosing parenthesised scope in place
        open_idx = -1
        d = 0
        for k in range(m.start() - 1, -1, -1):
            if sql[k] == ")":
                d += 1
            elif sql[k] == "(":
                if d == 0:
                    open_idx = k
                    break
                d -= 1
        if open_idx == -1:
            return _rewrite_limit_by_scope(sql)
        close = _find_matching_paren(sql, open_idx)
        inner = _rewrite_limit_by_scope(sql[open_idx + 1 : close])
        sql = f"{sql[: open_idx + 1]}{inner}{sql[close:]}"


def _rewrite_limit_by_scope(sql: str) -> str:
    m = _find_clean(_LIMIT_BY_RE, sql)
    if not m:
        return sql
    offset = int(m.group(1) or m.group(3) or 0)
    n = int(m.group(2))
    # BY expressions run to the next top-level clause keyword or EOS
    tail_m = _find_clean(_AFTER_LIMIT_BY_RE, sql, start=m.end())
    by_end = tail_m.start() if tail_m else len(sql)
    by_exprs = sql[m.end() : by_end].strip().rstrip(";").strip()
    tail = sql[by_end:].strip() if tail_m else ""
    head = sql[: m.start()].strip()
    # split a top-level ORDER BY off the head (the window takes it over)
    order = None
    om = _find_clean(_ORDER_BY_RE, head)
    while om:
        nxt = _find_clean(_ORDER_BY_RE, head, start=om.end())
        if not nxt:
            break
        om = nxt
    if om:
        order = head[om.end() :].strip()
        head = head[: om.start()].strip()
    order_clause = order or by_exprs
    out = (
        f"SELECT * EXCEPT (_rn) FROM (SELECT _q.*, row_number() OVER "
        f"(PARTITION BY {by_exprs} ORDER BY {order_clause}) AS _rn "
        f"FROM ({head}) AS _q) WHERE _rn "
        + (
            f"BETWEEN {offset + 1} AND {offset + n}"
            if offset
            else f"<= {n}"
        )
    )
    if order:
        out += f" ORDER BY {order}"
    if tail:
        out += f" {tail}"
    return out


def _rewrite_with_totals(sql: str) -> str:
    """`GROUP BY <exprs> WITH TOTALS` -> `GROUP BY GROUPING SETS
    ((<exprs>), ())` — the totals row is the empty grouping set.

    Semantics note: ClickHouse renders the totals row's key columns as
    type defaults (0 / ''), GROUPING SETS as NULL — the aggregate
    values are identical; key-column tests should use the NULL marker.
    Paren/quote-aware linear scan, one GROUP BY at a time; a clause
    keyword or the subquery's closing paren ends the search.
    """
    i = 0
    while True:
        # string-masked seed: a "GROUP BY ... WITH TOTALS" sequence
        # inside a literal must not be treated as a real clause
        m = _find_clean(_GROUP_BY_RE, sql, start=i, depth0=False)
        if not m:
            return sql
        j = m.end()
        depth = 0
        closer: str | None = None
        k = j
        totals = None
        while k < len(sql):
            c = sql[k]
            if closer is not None:
                if c == "\\":
                    k += 1
                elif c == closer:
                    closer = None
            elif c in ("'", "`", '"'):
                closer = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth < 0:
                    break
            elif depth == 0 and c.isalpha() and (
                k == 0 or not (sql[k - 1].isalnum() or sql[k - 1] == "_")
            ):
                m2 = _TOTALS_RE.match(sql, k)
                if m2:
                    totals = (k, m2.end())
                    break
                if _GROUP_END_RE.match(sql, k):
                    break
            k += 1
        if totals is None:
            i = j
            continue
        exprs = sql[j : totals[0]].strip()
        sql = (
            sql[: m.start()]
            + f"GROUP BY GROUPING SETS (({exprs}), ())"
            + sql[totals[1] :]
        )
        i = m.start() + 1


_CLAUSE_END_RE = re.compile(
    r"(?i)\b(WHERE|GROUP|HAVING|ORDER|LIMIT|WINDOW|QUALIFY|UNION|EXCEPT|"
    r"INTERSECT|SETTINGS|FORMAT)\b"
)
_AJ_END_RE = re.compile(
    r"(?i)\b(WHERE|PREWHERE|GROUP|HAVING|ORDER|LIMIT|WINDOW|QUALIFY|UNION|"
    r"EXCEPT|INTERSECT|SETTINGS|FORMAT|INNER|LEFT|RIGHT|FULL|CROSS|JOIN|"
    r"LATERAL)\b"
)


def _clause_end(sql: str, start: int, depth_at: int, mask, stop_re):
    """(end index, keyword match|None): scan from `start` until a stop
    keyword at `depth_at` outside strings, or the enclosing paren
    closes (depth drops below `depth_at`), or end of statement."""
    i = start
    while i < len(sql):
        d, instr = mask[i]
        if not instr and d < depth_at:
            return i, None
        if not instr and d == depth_at:
            em = stop_re.match(sql, i)
            if em:
                return i, em
        i += 1
    return len(sql), None


_WITH_FILL_RE = re.compile(r"(?i)\bWITH\s+FILL\b")
_FORMAT_TAIL_RE = re.compile(r"(?i)\bFORMAT\s+[A-Za-z][A-Za-z0-9]*\s*;?\s*$")
#: the lookbehind excludes `system.settings` (a table, not the clause)
_SETTINGS_TAIL_RE = re.compile(r"(?i)(?<![.\w])SETTINGS\s+[^;]*$")


def _strip_output_clauses(sql: str) -> tuple[str, dict]:
    """Drop the ClickHouse output-side tail clauses. Returns the
    statement without them and the DialectSettings overrides of its
    SETTINGS tail.

    - `FORMAT <name>` names a wire serialization; the engine returns
      DataFrames, so it carries no meaning here (the reference itself
      overwrites user FORMATs with ArrowStream, http/client.rs:69-78);
    - `SETTINGS k = v` are per-query execution hints — they never
      change results; the API path for enforced ones is
      client.query_with_options / QueryLimits (settings.py maps CH
      names to Spark confs). Stripped with a warning so callers know
      the hints did not silently apply. HONORED_SETTINGS apply to
      this statement instead; guarded ones raise on a diverging value.

    `ORDER BY ... WITH FILL` is refused instead: it ADDS rows — use
    operators/timeseries.fill_gaps (sequence + outer join
    densification), which implements the semantics.
    """
    m = _find_clean(
        re.compile(r"(?i)\bINTO\s+OUTFILE\b"), sql, depth0=False
    )
    if m:
        raise UntranslatableFunctionError(
            "INTO OUTFILE writes a client-side file — run the query and "
            "write the DataFrame: client.query_ch(sql).write"
            ".csv/parquet(path)"
        )
    m = _find_clean(_WITH_FILL_RE, sql, depth0=False)
    if m:
        raise UntranslatableFunctionError(
            "ORDER BY ... WITH FILL adds gap rows — a textual rewrite "
            "can't express it; use operators/timeseries.fill_gaps "
            "(sequence + outer-join densification, corpus "
            "events_fill_gaps)"
        )
    m = _find_clean(_FORMAT_TAIL_RE, sql)
    if m:
        sql = sql[: m.start()].rstrip()
    m = _find_clean(_SETTINGS_TAIL_RE, sql)
    if not m:
        return sql, {}
    overrides, stripped = _check_semantic_settings(
        sql[m.start() + len("SETTINGS"):]
    )
    if stripped:
        import warnings

        warnings.warn(
            "SETTINGS clause stripped; per-query execution settings "
            "go through client.query_with_options / QueryLimits",
            stacklevel=3,
        )
    return sql[: m.start()].rstrip(), overrides


_ORDER_BY_KW_RE = re.compile(r"(?i)\bORDER\s+BY\s+")
_ORDER_TERM_RE = re.compile(
    r"(?i)(LIMIT|OFFSET|SETTINGS|FORMAT|WINDOW|UNION|EXCEPT|INTERSECT|"
    r"FETCH|INTO|ROWS|RANGE|GROUPS)\b"
)
_NULLS_SPEC_RE = re.compile(r"(?i)\bNULLS\s+(FIRST|LAST)\b")
_DESC_TAIL_RE = re.compile(r"(?i)\bDESC(?:ENDING)?\s*$")
_DDL_HEAD_RE = re.compile(r"(?i)^\s*(CREATE|ALTER|INSERT|OPTIMIZE|DROP)\b")


def _rewrite_order_nulls(sql: str) -> str:
    """ClickHouse sorts NULL as the LARGEST value: last under ASC,
    first under DESC. Spark's defaults are the exact opposite (NULLS
    FIRST on ASC, NULLS LAST on DESC) — a silent top-k/LIMIT trap over
    nullable sort keys. Every ORDER BY key (top level, subqueries, and
    window OVER clauses alike — CH applies the same rule in all three)
    gets the explicit CH placement unless one is already spelled."""
    if _DDL_HEAD_RE.match(sql):
        return sql  # engine ORDER BY clauses are not sort specs
    search_from = 0
    while True:
        mask = _scan_mask(sql)
        m = _ORDER_BY_KW_RE.search(sql, search_from)
        while m and mask[m.start()][1]:
            m = _ORDER_BY_KW_RE.search(sql, m.end())
        if not m:
            return sql
        base = mask[m.start()][0]
        j, end = m.end(), len(sql)
        while j < len(sql):
            d, instr = mask[j]
            if not instr and d < base:
                end = j
                break
            if not instr and d == base:
                if sql[j] == ";":
                    end = j
                    break
                t = _ORDER_TERM_RE.match(sql, j)
                if t and (j == 0 or not (sql[j - 1].isalnum()
                                         or sql[j - 1] in "_`")):
                    end = j
                    break
            j += 1
        clause = sql[m.end():end]
        cmask = _scan_mask(clause)
        items, last = [], 0
        for k, c in enumerate(clause):
            if c == "," and cmask[k] == (0, False):
                items.append(clause[last:k])
                last = k + 1
        items.append(clause[last:])

        def fix(item: str) -> str:
            body = item.rstrip()
            pad = item[len(body):]
            # a trailing `-- comment` would swallow the appended spec;
            # split it off (string-literal-safe via the scan mask)
            comment = ""
            imask = _scan_mask(body)
            for k in range(len(body) - 1):
                if body[k : k + 2] == "--" and not imask[k][1]:
                    comment = " " + body[k:]
                    body = body[:k].rstrip()
                    break
            if not body or _NULLS_SPEC_RE.search(body) or \
                    re.search(r"(?i)\bWITH\s+FILL\b|\bINTERPOLATE\b", body):
                return item
            if _DESC_TAIL_RE.search(body):
                return f"{body} NULLS FIRST{comment}{pad}"
            return f"{body} NULLS LAST{comment}{pad}"

        new_clause = ",".join(fix(it) for it in items)
        sql = f"{sql[: m.end()]}{new_clause}{sql[end:]}"
        search_from = m.end() + len(new_clause)


_PREWHERE_RE = re.compile(r"(?i)\bPREWHERE\b")


def _rewrite_prewhere(sql: str) -> str:
    """ClickHouse PREWHERE is a storage-level filter-first hint; Spark's
    predicate pushdown owns that decision, so the predicate folds into
    WHERE (AND-merged with an existing WHERE) — identical results, the
    optimizer picks the physical order."""
    while True:
        m = _find_clean(_PREWHERE_RE, sql, depth0=False)
        if not m:
            return sql
        mask = _scan_mask(sql)
        depth_at = mask[m.start()][0]
        end, em = _clause_end(sql, m.end(), depth_at, mask, _CLAUSE_END_RE)
        pred = sql[m.end():end].strip()
        if em and em.group(1).upper() == "WHERE":
            sql = (
                sql[: m.start()]
                + f"WHERE ({pred}) AND "
                + sql[em.end():]
            )
        else:
            sql = sql[: m.start()] + f"WHERE {pred} " + sql[end:]


_ARRAY_JOIN_RE = re.compile(r"(?i)\b(LEFT\s+)?ARRAY\s+JOIN\b")


def _rewrite_array_join(sql: str) -> str:
    """ClickHouse `[LEFT] ARRAY JOIN arr AS x` -> Spark
    `LATERAL VIEW [OUTER] explode(arr) _aj AS x`.

    The multi-array form `ARRAY JOIN a AS x, b AS y` iterates arrays in
    LOCKSTEP (zip): it becomes ONE `LATERAL VIEW inline(transform(a,
    (e, i) -> named_struct('x', e, 'y', b[i])))` — a single explode, no
    cross product — guarded by a size-equality check that raises like
    ClickHouse does on ragged lengths. Only the un-aliased form
    refuses: without AS the element REPLACES the source column name,
    which is ambiguous in Spark scoping."""
    aj_n = 0
    while True:
        m = _find_clean(_ARRAY_JOIN_RE, sql, depth0=False)
        if not m:
            return sql
        mask = _scan_mask(sql)
        depth_at = mask[m.start()][0]
        end, _em = _clause_end(sql, m.end(), depth_at, mask, _AJ_END_RE)
        clause = sql[m.end():end].strip()
        # split on top-level commas => CH zip semantics over N arrays
        items, cdepth, start = [], 0, 0
        for i, ch in enumerate(clause):
            if ch == "(":
                cdepth += 1
            elif ch == ")":
                cdepth -= 1
            elif ch == "," and cdepth == 0:
                items.append(clause[start:i])
                start = i + 1
        items.append(clause[start:])
        parsed = []
        for item in items:
            am = re.match(
                r"(?is)^(.*\S)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$", item.strip()
            )
            if not am:
                raise UntranslatableFunctionError(
                    "ARRAY JOIN without AS: the element would REPLACE the "
                    "source column name, which is ambiguous in Spark scoping "
                    "— write ARRAY JOIN <arr> AS <alias>"
                )
            parsed.append((am.group(1).strip(), am.group(2)))
        outer = "OUTER " if m.group(1) else ""
        aj_n += 1
        view = f"_aj{aj_n}" if aj_n > 1 else "_aj"
        if len(parsed) == 1:
            expr, alias = parsed[0]
            # ClickHouse ARRAY JOIN over a Map iterates (key, value)
            # pairs, referenced as alias.key / alias.value (reference
            # e2e_http.rs map tests). The textual layer has no types —
            # those references ARE the signal: explode map_entries so
            # the alias is a {key, value} struct.
            rest = sql[:m.start()] + sql[end:]
            if re.search(rf"\b{re.escape(alias)}\.(key|value)\b", rest):
                expr = f"map_entries({expr})"
            lv = f"LATERAL VIEW {outer}explode({expr}) {view} AS {alias} "
        else:
            first = parsed[0][0]
            guards = " AND ".join(
                f"size(({first})) = size(({e}))" for e, _ in parsed[1:]
            )
            fields = ", ".join(
                [f"'{parsed[0][1]}', __cas_e"]
                + [
                    f"'{a}', element_at(({e}), __cas_i + 1)"
                    for e, a in parsed[1:]
                ]
            )
            zipped = (
                f"transform(({first}), (__cas_e, __cas_i) -> "
                f"named_struct({fields}))"
            )
            checked = (
                f"CASE WHEN {guards} THEN {zipped} ELSE "
                f"raise_error('ARRAY JOIN lockstep arrays have unequal "
                f"sizes (ClickHouse errors here too)') END"
            )
            aliases = ", ".join(a for _, a in parsed)
            lv = f"LATERAL VIEW {outer}inline({checked}) {view} AS {aliases} "
        sql = sql[: m.start()] + lv + sql[end:]


_FINAL_RE = re.compile(r"(?i)\bFROM\s+[A-Za-z_][\w.]*\s+FINAL\b")
_GLOBAL_RE = re.compile(
    r"(?i)\bGLOBAL\s+(?=ANY\b|ALL\b|ASOF\b|SEMI\b|ANTI\b|INNER\b|LEFT\b|"
    r"RIGHT\b|FULL\b|CROSS\b|JOIN\b|IN\b|NOT\s+IN\b)"
)
_ANY_JOIN_RE = re.compile(
    r"(?i)\b(?:(ANY|ASOF)\s+(?:(?:LEFT|RIGHT|INNER|FULL)\s+)?|"
    r"(?:LEFT|RIGHT|INNER|FULL)\s+(ANY|ASOF)\s+)JOIN\b"
)


_SELECT_RE = re.compile(r"(?i)\bSELECT\b")
_FROM_KW_RE = re.compile(r"(?i)\bFROM\b")
_WHERE_HAVING_RE = re.compile(r"(?i)\b(WHERE|HAVING)\b")
_CLAUSE_STOP_RE = re.compile(
    r"(?i)\b(GROUP|HAVING|ORDER|LIMIT|WINDOW|UNION|EXCEPT|INTERSECT|"
    r"SETTINGS|FORMAT)\b"
)
_ALIAS_NAME_RE = re.compile(r"^[A-Za-z_]\w*$")


def _rewrite_select_alias_refs(sql: str) -> str:
    """ClickHouse resolves SELECT-list aliases everywhere in the same
    scope — `SELECT a + 1 AS c ... WHERE c > 1` is the single most
    common migration breaker (Spark resolves WHERE against the input
    relation only). Inline each alias's expression into that scope's
    WHERE/HAVING. This matches CH in BOTH shadowing directions: CH
    prefers the ALIAS even when a real column shares the name (the
    `prefer_column_name_to_alias=0` default), which is exactly what
    inlining produces. GROUP BY / ORDER BY are left alone — Spark
    resolves aliases there natively.

    Sub-SELECT spans inside the WHERE region keep their own scope:
    replacements skip any parenthesized group that starts with SELECT.
    """
    mask = _scan_mask(sql)
    out = sql
    # process scopes right-to-left so earlier offsets stay valid
    starts = [
        m.start()
        for m in _SELECT_RE.finditer(sql)
        if not mask[m.start()][1]
    ]
    for s_idx in reversed(starts):
        depth = mask[s_idx][0]
        # find this scope's FROM at the same depth
        m_from = _find_at_depth(_FROM_KW_RE, out, s_idx, depth)
        if not m_from:
            continue
        select_list = out[s_idx + 6 : m_from.start()]
        aliases: list[tuple[str, str]] = []
        for i, item in enumerate(_split_top_args(select_list)):
            parts = _split_depth0(_AS_SPLIT_RE, item)
            if len(parts) < 2:
                continue
            alias = parts[-1].strip()
            expr = " AS ".join(parts[:-1]).strip()
            if i == 0:
                # SELECT DISTINCT/ALL prefix is not part of the expr
                expr = re.sub(r"(?is)^(DISTINCT|ALL)\s+", "", expr)
            if _ALIAS_NAME_RE.match(alias) and expr and expr != alias:
                aliases.append((alias, expr))
        if not aliases:
            continue
        # locate WHERE/HAVING clauses of this scope
        pos = m_from.end()
        while True:
            m_wh = _find_at_depth(_WHERE_HAVING_RE, out, pos, depth)
            if not m_wh:
                break
            end = _scope_clause_end(out, m_wh.end(), depth)
            clause = out[m_wh.end() : end]
            new_clause = _inline_aliases(clause, aliases)
            out = f"{out[: m_wh.end()]}{new_clause}{out[end:]}"
            pos = m_wh.end() + len(new_clause)
    return out


def _find_at_depth(pattern, sql, start, depth):
    mask = _scan_mask(sql)
    m = pattern.search(sql, start)
    while m and (
        mask[m.start()][1]
        or mask[m.start()][0] != depth
    ):
        # stop the scope search once depth drops below the scope's
        if not mask[m.start()][1] and mask[m.start()][0] < depth:
            return None
        m = pattern.search(sql, m.end())
    return m


def _scope_clause_end(sql, start, depth):
    """End of a WHERE/HAVING clause: next clause keyword AT the scope's
    depth, or the point where depth drops below it — whichever comes
    first positionally — else end of string."""
    return _scope_clause_end_re(sql, start, depth, _CLAUSE_STOP_RE)


def _sub_select_spans(clause: str, mask) -> list[tuple[int, int]]:
    spans: list[tuple[int, int]] = []
    i = 0
    while i < len(clause):
        if clause[i] == "(" and not mask[i][1]:
            j = i + 1
            while j < len(clause) and clause[j] in " \t\n":
                j += 1
            if clause[j : j + 6].upper() == "SELECT":
                close = _find_matching_paren(clause, i)
                if close != -1:
                    spans.append((i, close))
                    i = close + 1
                    continue
        i += 1
    return spans


def _substitute_alias_tokens(text: str, repl) -> str:
    """ONE left-to-right pass replacing bare alias tokens via
    ``repl(name) -> str | None`` (None = leave the token alone).
    Inserted text is never rescanned — simultaneous-substitution
    semantics, so an alias expression can safely mention another
    alias's NAME as a real column without being re-substituted.
    Skips string literals, qualified refs (`t.alias`), function-call
    heads, and sub-SELECT spans (their own scope)."""
    names = repl.keys() if isinstance(repl, dict) else None
    if isinstance(repl, dict):
        mapping = repl
        repl = mapping.get
    if names is not None and not names:
        return text
    mask = _scan_mask(text)
    sub_spans = _sub_select_spans(text, mask)
    pat = re.compile(r"\b[A-Za-z_]\w*\b")
    out: list[str] = []
    last = 0
    for m in pat.finditer(text):
        p = m.start()
        if mask[p][1]:
            continue
        if any(a <= p <= b for a, b in sub_spans):
            continue
        before = text[p - 1] if p > 0 else ""
        after = text[m.end()] if m.end() < len(text) else ""
        if before == "." or after == ".":
            continue  # qualified — a real column reference
        # not a function call: alias( would be a function name
        k = m.end()
        while k < len(text) and text[k] in " \t\n":
            k += 1
        if k < len(text) and text[k] == "(":
            continue
        r = repl(m.group(0))
        if r is None:
            continue
        out.append(text[last:p])
        out.append(f"({r})")
        last = m.end()
    if not out:
        return text
    out.append(text[last:])
    return "".join(out)


def _resolve_alias_exprs(aliases: list[tuple[str, str]]) -> dict[str, str]:
    """Pre-resolve alias-to-alias references so every expression only
    mentions real columns. Forward chains (`x AS a, a+1 AS b`) inline
    transitively; a CYCLE (`b AS a, a AS b`) poisons the whole chain —
    the referencing token stays put and therefore binds to the real
    column, which is how ClickHouse resolves the cyclic pair."""
    amap = dict(aliases)

    def resolve(name: str, path: frozenset) -> tuple[str, bool]:
        expr = amap[name]
        clean = True

        def rf(tok: str):
            nonlocal clean
            if tok == name or tok not in amap:
                return None
            if tok in path:
                clean = False
                return None
            r, ok = resolve(tok, path | {name})
            if not ok:
                clean = False
                return None
            return r

        return _substitute_alias_tokens(expr, rf), clean

    return {a: resolve(a, frozenset())[0] for a, _ in aliases}


def _inline_aliases(clause: str, aliases: list[tuple[str, str]]) -> str:
    """Replace bare alias tokens in `clause` with their parenthesized
    expressions — all aliases substituted SIMULTANEOUSLY (one pass,
    inserted text untouched), with alias-referencing expressions
    pre-resolved by :func:`_resolve_alias_exprs`."""
    return _substitute_alias_tokens(clause, _resolve_alias_exprs(aliases))


_WITH_HEAD_RE = re.compile(r"(?i)^\s*WITH\b")
_CTE_ITEM_RE = re.compile(r"(?i)^[A-Za-z_]\w*\s+AS\s*\(")


def _rewrite_scalar_with(sql: str) -> str:
    """ClickHouse scalar WITH — `WITH 5 AS k, x*2 AS dbl SELECT ...` —
    binds expressions to names visible EVERYWHERE in the statement
    (including subqueries; CH `enable_global_with_statement` default).
    Spark's WITH only accepts CTEs, so scalar items are inlined as
    parenthesized expressions at every bare reference; CTE items
    (`name AS (SELECT ...)`) stay in place."""
    m = _find_clean(_WITH_HEAD_RE, sql, depth0=False)
    if not m:
        return sql
    # span of the WITH list: up to the first top-level SELECT
    m_sel = _find_at_depth(_SELECT_RE, sql, m.end(), 0)
    if not m_sel:
        return sql
    items = _split_top_args(sql[m.end() : m_sel.start()])
    ctes: list[str] = []
    aliases: list[tuple[str, str]] = []
    for item in items:
        st = item.strip()
        if not st:
            continue
        if _CTE_ITEM_RE.match(st):
            ctes.append(st)
            continue
        parts = _split_depth0(_AS_SPLIT_RE, st)
        if len(parts) >= 2 and _ALIAS_NAME_RE.match(parts[-1].strip()):
            aliases.append((parts[-1].strip(), " AS ".join(parts[:-1]).strip()))
        else:
            ctes.append(st)  # unknown shape: leave for Spark's parser
    if not aliases:
        return sql
    # scalar WITH items are SEQUENTIAL in CH: later items may reference
    # earlier ones (`WITH 2 AS a, a * 3 AS b`) — pre-resolve so every
    # expression mentions only real columns before inlining
    resolved: dict[str, str] = {}
    pre: list[tuple[str, str]] = []
    for alias, expr in aliases:
        expr2 = _substitute_alias_tokens(expr, dict(resolved))
        resolved[alias] = expr2
        pre.append((alias, expr2))
    aliases = pre
    body = sql[m_sel.start() :]
    # a select-list item that IS a scalar alias keeps its output name
    # (CH names the column after the alias): `k` -> `(expr) AS k`
    alias_map = dict(aliases)
    mf = _find_at_depth(_FROM_KW_RE, body, 0, 0)
    if mf:
        items = _split_top_args(body[6 : mf.start()])
        changed = False
        for i, item in enumerate(items):
            st = item.strip()
            if st in alias_map:
                items[i] = f"({alias_map[st]}) AS {st}"
                changed = True
        if changed:
            body = f"SELECT {', '.join(items)} {body[mf.start():]}"
    # scalar WITH is visible inside subqueries too: inline everywhere
    # (literals, qualified refs, and call heads still skipped)
    body = _inline_aliases_everywhere(body, aliases)
    head = sql[: m.start()]
    if ctes:
        return f"{head}WITH {', '.join(ctes)} {body}"
    return f"{head}{body}"


def _inline_aliases_everywhere(clause: str, aliases) -> str:
    mask = _scan_mask(clause)
    for alias, expr in aliases:
        pat = re.compile(rf"\b{re.escape(alias)}\b")
        new: list[str] = []
        last = 0
        for mm in pat.finditer(clause):
            p = mm.start()
            if mask[p][1]:
                continue
            before = clause[p - 1] if p > 0 else ""
            after = clause[mm.end()] if mm.end() < len(clause) else ""
            if before == "." or after == ".":
                continue
            k = mm.end()
            while k < len(clause) and clause[k] in " \t\n":
                k += 1
            if k < len(clause) and clause[k] == "(":
                continue
            # an AS target is a NAME BINDING, not a reference
            b = p
            while b > 0 and clause[b - 1] in " \t\n":
                b -= 1
            if b >= 2 and clause[b - 2 : b].upper() == "AS" and (
                b == 2 or not (clause[b - 3].isalnum() or clause[b - 3] == "_")
            ):
                continue
            new.append(clause[last:p])
            new.append(f"({expr})")
            last = mm.end()
        if new:
            new.append(clause[last:])
            clause = "".join(new)
            mask = _scan_mask(clause)
    return clause


_QUALIFY_RE = re.compile(r"(?i)\bQUALIFY\b")
_QUALIFY_STOP_RE = re.compile(
    r"(?i)\b(ORDER|LIMIT|WINDOW|UNION|EXCEPT|INTERSECT|SETTINGS|FORMAT)\b"
)


def _rewrite_qualify(sql: str) -> str:
    """`... QUALIFY pred [ORDER BY ...]` (filter on window results) ->
    wrap: the scope becomes a subquery that computes `(pred) AS __q` as
    a lateral select item, filtered by `WHERE __q` outside and projected
    back with `* EXCEPT (__q)`. Trailing ORDER BY/LIMIT move to the
    outer query. Predicates may reference select aliases (Spark's
    lateral column alias resolution covers that)."""
    while True:
        m = _find_clean(_QUALIFY_RE, sql, depth0=False)
        if not m:
            return sql
        depth = _scan_mask(sql)[m.start()][0]
        # the scope's SELECT: last SELECT at this depth before QUALIFY
        sel = None
        for ms in _SELECT_RE.finditer(sql, 0, m.start()):
            msk = _scan_mask(sql)[ms.start()]
            if not msk[1] and msk[0] == depth:
                sel = ms
        if sel is None:
            return sql
        pred_end = _scope_clause_end_re(sql, m.end(), depth, _QUALIFY_STOP_RE)
        pred = sql[m.end() : pred_end].strip()
        scope_end = _scope_end(sql, pred_end, depth)
        inner = sql[sel.start() : m.start()].rstrip()
        # inject the predicate as a lateral select item before FROM;
        # `inner` is a slice, so depths inside it are RELATIVE (its own
        # scope keywords sit at relative depth 0 whatever the absolute)
        mf = _find_at_depth(_FROM_KW_RE, inner, 0, 0)
        if not mf:
            return sql
        inner_q = (
            f"{inner[: mf.start()].rstrip()}, ({pred}) AS __q "
            f"{inner[mf.start():]}"
        )
        trailing = sql[pred_end:scope_end]
        wrapped = (
            f"SELECT * EXCEPT (__q) FROM ({inner_q}) WHERE __q "
            f"{trailing.lstrip()}"
        ).rstrip()
        sql = f"{sql[: sel.start()]}{wrapped}{sql[scope_end:]}"


def _scope_clause_end_re(sql, start, depth, stop_re):
    """First position after `start` where the clause ends: a stop
    keyword AT the scope's depth, or the point where depth drops below
    it — whichever comes FIRST positionally."""
    mask = _scan_mask(sql)
    stops = {
        m.start()
        for m in stop_re.finditer(sql, start)
        if not mask[m.start()][1] and mask[m.start()][0] == depth
    }
    for k in range(start, len(sql)):
        if not mask[k][1] and mask[k][0] < depth:
            return k
        if k in stops:
            return k
    return len(sql)


def _scope_end(sql, start, depth):
    mask = _scan_mask(sql)
    for k in range(start, len(sql)):
        if not mask[k][1] and mask[k][0] < depth:
            return k
        if not mask[k][1] and mask[k][0] == depth:
            mu = re.match(r"(?i)(UNION|EXCEPT|INTERSECT)\b", sql[k:])
            if mu:
                return k
    return len(sql)


_IN_FRAME_RE = re.compile(r"(?i)\b(lagInFrame|leadInFrame)\s*\(")
_FRAME_SPEC_RE = re.compile(
    r"(?is)\s*(ROWS|RANGE)\s+BETWEEN\s+"
    r"(UNBOUNDED\s+PRECEDING|\d+\s+PRECEDING|CURRENT\s+ROW)\s+AND\s+"
    r"(CURRENT\s+ROW|UNBOUNDED\s+FOLLOWING|\d+\s+FOLLOWING)\s*$"
)


def _rewrite_in_frame(sql: str) -> str:
    """ClickHouse `lagInFrame/leadInFrame(x[, n]) OVER (... frame)`:
    Spark's lag/lead REJECT an explicit window frame, so the frame is
    stripped when it provably COVERS the offset (the common migration
    spellings: UNBOUNDED PRECEDING..., or `k PRECEDING` with k >= n) —
    identical results, since lag/lead then read the same row. A frame
    that may EXCLUDE the offset row (CH returns the default there) is
    refused rather than silently answered differently."""
    pos = 0
    while True:
        m = _find_clean(_IN_FRAME_RE, sql, start=pos, depth0=False)
        if not m:
            return sql
        pos = m.end()
        close = _find_matching_paren(sql, m.end() - 1)
        if close == -1:
            continue
        # literal offset (2nd arg), default 1
        args = _split_top_args(sql[m.end() : close])
        offset = None
        if len(args) < 2:
            offset = 1
        else:
            am = re.match(r"^\s*(\d+)\s*$", args[1])
            if am:
                offset = int(am.group(1))
        k = close + 1
        while k < len(sql) and sql[k] in " \t\n":
            k += 1
        if sql[k : k + 4].upper() != "OVER":
            continue
        k += 4
        while k < len(sql) and sql[k] in " \t\n":
            k += 1
        if k >= len(sql) or sql[k] != "(":
            continue  # named window: leave for Spark to resolve
        wclose = _find_matching_paren(sql, k)
        if wclose == -1:
            continue
        body = sql[k + 1 : wclose]
        fm = _FRAME_SPEC_RE.search(body)
        if not fm:
            continue  # no explicit frame: plain lag/lead is exact
        lo = re.sub(r"\s+", " ", fm.group(2).upper())
        hi = re.sub(r"\s+", " ", fm.group(3).upper())
        is_lag = m.group(1).lower() == "laginframe"
        if is_lag:
            covers = lo == "UNBOUNDED PRECEDING" or (
                offset is not None
                and lo.endswith("PRECEDING")
                and int(lo.split()[0]) >= offset
            )
        else:
            covers = hi == "UNBOUNDED FOLLOWING" or (
                offset is not None
                and hi.endswith("FOLLOWING")
                and int(hi.split()[0]) >= offset
            )
        if not covers:
            raise UntranslatableFunctionError(
                f"{m.group(1)} with a frame that may EXCLUDE the offset "
                "row: ClickHouse returns the default there, Spark's "
                "lag/lead cannot carry a frame — widen the frame to "
                "cover the offset (e.g. ROWS BETWEEN UNBOUNDED "
                "PRECEDING AND CURRENT ROW) or compute via nth_value"
            )
        sql = f"{sql[: k + 1]}{body[: fm.start()]}{sql[wclose:]}"


_EXP_DECAY_RE = re.compile(
    r"(?i)\b(exponentialTimeDecayedSum|exponentialTimeDecayedAvg|"
    r"exponentialTimeDecayedCount|exponentialTimeDecayedMax|"
    r"exponentialMovingAverage)\s*\("
)
_PARTITION_BY_RE = re.compile(
    r"(?is)\bPARTITION\s+BY\s+(.*?)(?=\bORDER\s+BY\b|\bROWS\b|\bRANGE\b|$)"
)


def _rewrite_exp_decay(sql: str) -> str:
    """ClickHouse's parameterized time-decay window functions
    (window-functions/docs: `f(x)(v, t) OVER (...)`):

    - exponentialTimeDecayedSum(x)(v, t)  = SUM  v_i * exp(-(T-t_i)/x)
    - exponentialTimeDecayedCount(x)(t)   = SUM      exp(-(T-t_i)/x)
    - exponentialTimeDecayedMax(x)(v, t)  = MAX  v_i * exp(-(T-t_i)/x)
    - exponentialTimeDecayedAvg(x)(v, t)  = decayed sum / decayed count
    - exponentialMovingAverage(x)(v, t)   = SUM v_i * 2^(-(T-t_i)/x)
                                            * (1 - 2^(-1/x))
      (half-life x, unit-spaced normalization — the reference CH
      implementation, base/ExponentiallySmoothedCounter.h)

    with T the CURRENT row's time. Each factors through the identity
    w(T, t_i) = w(T, t0) * w(t0, t_i) into ONE ordinary windowed
    SUM/MAX times a per-row prefactor — no per-row state, no
    collect_list, stays in whole-stage codegen. t0 = MAX(t) over the
    partition (ADVICE r9 #4) makes every grow factor <= 1 so the
    windowed sum can never overflow; results are double-exact for
    rows within ~709 decay horizons of the partition end, and rows
    older than that report a finite 0 (clamped shrink) where CH's
    sequential fold would return their ~full own-value — a documented
    divergence only reachable when the partition spans > 700x the
    decay horizon.

    exponentialMovingAverage without OVER (the CH AGGREGATE form) is
    rewritten to an Arrow-free exact fold: collect_list + aggregate()
    with the group max bound via a 1-element transform() — plan-level
    only, bounded by the group (the same cost CH pays holding the
    group's (v, t) pairs).
    """
    pos = 0
    while True:
        m = _find_clean(_EXP_DECAY_RE, sql, start=pos, depth0=False)
        if not m:
            return sql
        name = m.group(1)
        lname = name.lower()
        pclose = _find_matching_paren(sql, m.end() - 1)
        if pclose == -1:
            pos = m.end()
            continue
        param = sql[m.end():pclose].strip()
        k = pclose + 1
        while k < len(sql) and sql[k] in " \t\n":
            k += 1
        if k >= len(sql) or sql[k] != "(":
            raise UntranslatableFunctionError(
                f"{name}(x)(value, time): the parameterized call needs "
                "the second argument list"
            )
        aclose = _find_matching_paren(sql, k)
        args = [a.strip() for a in _split_top_args(sql[k + 1:aclose])]
        j = aclose + 1
        while j < len(sql) and sql[j] in " \t\n":
            j += 1
        has_over = sql[j:j + 4].upper() == "OVER"
        if not has_over:
            if lname == "exponentialmovingaverage".lower():
                if len(args) != 2:
                    raise UntranslatableFunctionError(
                        "exponentialMovingAverage(x)(value, timeunit) "
                        "takes two arguments"
                    )
                v, t = args
                arr = _guard_fold(
                    f"filter(collect_list(named_struct('t', "
                    f"CAST(({t}) AS DOUBLE), 'v', CAST(({v}) AS "
                    f"DOUBLE))), _n -> _n.t IS NOT NULL AND "
                    f"_n.v IS NOT NULL)",
                    "exponentialMovingAverage",
                )
                repl = (
                    f"(element_at(transform(array(array_max(transform("
                    f"{arr}, _s -> _s.t))), _T -> aggregate({arr}, "
                    f"CAST(0 AS DOUBLE), (_acc, _s) -> _acc + _s.v * "
                    f"pow(2.0, (_s.t - _T)/({param})))), 1) * "
                    f"(1.0 - pow(2.0, CAST(-1.0 AS DOUBLE)/({param}))))"
                )
                sql = f"{sql[: m.start()]}{repl}{sql[aclose + 1:]}"
                pos = m.start() + len(repl)
                continue
            raise UntranslatableFunctionError(
                f"{name} is a WINDOW function — add OVER (PARTITION BY "
                "... ORDER BY <time>); for a per-group scalar use "
                "exponentialMovingAverage (aggregate form) or "
                "operators/timeseries exponential smoothing"
            )
        j += 4
        while j < len(sql) and sql[j] in " \t\n":
            j += 1
        if j >= len(sql) or sql[j] != "(":
            raise UntranslatableFunctionError(
                f"{name} OVER w (named window): inline the window "
                "spec — the decay rewrite reads its PARTITION BY"
            )
        wclose = _find_matching_paren(sql, j)
        spec = sql[j + 1:wclose]
        pm = _PARTITION_BY_RE.search(spec)
        part_over = f"OVER (PARTITION BY {pm.group(1).strip()})" if pm \
            else "OVER ()"
        if lname == "exponentialtimedecayedcount":
            if len(args) != 1:
                raise UntranslatableFunctionError(
                    "exponentialTimeDecayedCount(x)(time) takes ONE "
                    "argument (the time column)"
                )
            t, v = args[0], None
        else:
            if len(args) != 2:
                raise UntranslatableFunctionError(
                    f"{name}(x)(value, time) takes two arguments"
                )
            v, t = args
        tt = f"CAST(({t}) AS DOUBLE)"
        # Anchor at the partition MAX (ADVICE r9 #4: the min anchor
        # made grow = exp((t-t0)/x) overflow for rows > ~700*x after
        # the start, poisoning every late frame with inf/NaN). With
        # t0 = max, grow = exp((t-t0)/x) <= 1 — NEVER overflows — and
        # the result is double-exact for every row within ~709 decay
        # horizons of the partition end (contributions older than
        # ~745*x from the anchor underflow to 0 exactly when their
        # true relative weight is below double epsilon). shrink's
        # exponent is clamped so rows more than ~700 horizons BEFORE
        # the partition end degrade to a finite 0 (their own weight is
        # unrepresentable next to the anchor) instead of inf/NaN —
        # documented divergence, pinned by test_exp_decay long-span.
        t0 = f"max({tt}) {part_over}"
        if lname == "exponentialmovingaverage":
            grow = f"pow(2.0, ({tt} - {t0})/({param}))"
            shrink = (
                f"pow(2.0, least(({t0} - {tt})/({param}), "
                f"CAST(1000 AS DOUBLE)))"
            )
        else:
            grow = f"exp(({tt} - {t0})/({param}))"
            shrink = (
                f"exp(least(({t0} - {tt})/({param}), "
                f"CAST(700 AS DOUBLE)))"
            )
        over = f"OVER ({spec})"
        if lname == "exponentialtimedecayedsum":
            repl = f"({shrink} * sum(({v}) * {grow}) {over})"
        elif lname == "exponentialtimedecayedcount":
            repl = f"({shrink} * sum({grow}) {over})"
        elif lname == "exponentialtimedecayedmax":
            repl = f"({shrink} * max(({v}) * {grow}) {over})"
        elif lname == "exponentialtimedecayedavg":
            # try_divide: in the degraded region (rows > ~700 horizons
            # before the partition end) both sums underflow to exactly
            # 0 and ANSI division would raise; NULL marks
            # "unrepresentable next to the anchor" there. The
            # denominator is otherwise always > 0 (the current row's
            # own weight).
            repl = (
                f"try_divide(sum(({v}) * {grow}) {over}, "
                f"sum({grow}) {over})"
            )
        else:  # exponentialMovingAverage as a window function
            repl = (
                f"({shrink} * sum(({v}) * {grow}) {over} * "
                f"(1.0 - pow(2.0, CAST(-1.0 AS DOUBLE)/({param}))))"
            )
        sql = f"{sql[: m.start()]}{repl}{sql[wclose + 1:]}"
        pos = m.start() + len(repl)


_NUMBERS_TVF_RE = re.compile(r"(?i)\b(FROM|JOIN)\s+numbers(_mt)?\s*\(")
_VALUES_TVF_RE = re.compile(r"(?i)\b(FROM|JOIN)\s+VALUES\s*\(\s*'")


def _rewrite_values_tvf(sql: str) -> str:
    """ClickHouse's `VALUES('a Int64, b String', (1, 'x'), ...)` table
    function (schema string first) -> a Spark inline-table subquery with
    the columns named and CAST to the bridged types."""
    from clickhouse_arrow_spark.types import ch_type_to_spark, parse_ch_type

    while True:
        m = _find_clean(_VALUES_TVF_RE, sql, depth0=False)
        if not m:
            return sql
        open_paren = sql.index("(", m.end(1))
        close = _find_matching_paren(sql, open_paren)
        if close == -1:
            return sql
        args = _split_top_args(sql[open_paren + 1: close])
        schema_lit = args[0].strip()
        cols = []
        for spec in schema_lit.strip("'").split(","):
            cname, _, ctype = spec.strip().partition(" ")
            try:
                stype = ch_type_to_spark(parse_ch_type(ctype.strip()))[0] \
                    .simpleString()
            except Exception:
                raise UntranslatableFunctionError(
                    f"VALUES schema {spec.strip()!r}: unparseable "
                    "ClickHouse type"
                ) from None
            cols.append((cname.strip(), stype))
        sel = ", ".join(
            f"CAST(col{i + 1} AS {t}) AS `{n}`" for i, (n, t) in
            enumerate(cols)
        )
        sub = (
            f"(SELECT {sel} FROM VALUES {', '.join(args[1:])})"
        )
        sql = f"{sql[: m.start()]}{m.group(1)} {sub}{sql[close + 1:]}"
_EMPTY_OVER_RE = re.compile(
    r"(?i)\b(row_number|rank|dense_rank|ntile\s*\(\s*\d+\s*\))\s*"
    r"(\(\s*\)\s*)?OVER\s*\(\s*\)"
)


_VIEW_TVF_RE = re.compile(r"(?i)\b(FROM|JOIN|,)\s*view\s*\(")


def _rewrite_view_tvf(sql: str) -> str:
    """ClickHouse `FROM view(SELECT ...)` table function — the wrapper
    is a no-op over an inline subquery here; strip it to plain parens."""
    while True:
        m = _find_clean(_VIEW_TVF_RE, sql, depth0=False)
        if not m:
            return sql
        open_paren = sql.index("(", m.start() + len(m.group(1)))
        close = _find_matching_paren(sql, open_paren)
        if close == -1:
            return sql
        sql = (
            f"{sql[: m.start()]}{m.group(1)} "
            f"({sql[open_paren + 1 : close]}){sql[close + 1 :]}"
        )


def _rewrite_numbers_tvf(sql: str) -> str:
    """ClickHouse's `numbers(n)` / `numbers(offset, n)` table function
    -> Spark's `range()` TVF wrapped to expose the `number` column.
    (`system.numbers` as a TABLE is handled catalog-side.)"""
    while True:
        m = _find_clean(_NUMBERS_TVF_RE, sql, depth0=False)
        if not m:
            return sql
        close = _find_matching_paren(sql, m.end() - 1)
        if close == -1:
            return sql
        args = _split_top_args(sql[m.end() : close])
        if len(args) == 1:
            sub = f"(SELECT id AS number FROM __cas_range__({args[0]}))"
        elif len(args) == 2:
            sub = (
                f"(SELECT id AS number FROM __cas_range__({args[0]}, "
                f"({args[0]}) + ({args[1]})))"
            )
        else:
            raise UntranslatableFunctionError(
                "numbers() takes 1 or 2 arguments (the stepped 3-arg "
                "form: use range(start, end, step) directly)"
            )
        sql = f"{sql[: m.start()]}{m.group(1)} {sub}{sql[close + 1:]}"


def _rewrite_empty_over(sql: str) -> str:
    """Ranking functions with an EMPTY `OVER ()` (legal in ClickHouse —
    arbitrary order) get an arbitrary-but-valid Spark ordering."""
    while True:
        m = _find_clean(_EMPTY_OVER_RE, sql, depth0=False)
        if not m:
            return sql
        fn = m.group(1)
        call = fn if "(" in fn else f"{fn}()"
        sql = (
            f"{sql[: m.start()]}{call} OVER "
            f"(ORDER BY monotonically_increasing_id()){sql[m.end():]}"
        )


_TOP_RE = re.compile(r"(?i)\bSELECT\s+TOP\s+(\d+)\b")


def _rewrite_top(sql: str) -> str:
    """`SELECT TOP n cols` (CH supports the T-SQL form) -> `SELECT cols
    ... LIMIT n` at the end of that scope."""
    while True:
        m = _find_clean(_TOP_RE, sql, depth0=False)
        if not m:
            return sql
        depth = _scan_mask(sql)[m.start()][0]
        end = _scope_end(sql, m.end(), depth)
        sql = (
            f"{sql[: m.start()]}SELECT {sql[m.end() : end].strip()} "
            f"LIMIT {m.group(1)}{sql[end:]}"
        )


#: set operators in set-op position (followed by SELECT or a
#: parenthesised SELECT), without an explicit ALL/DISTINCT
_BARE_SETOP_RE = re.compile(
    r"(?i)\b(INTERSECT|EXCEPT|UNION)\s+"
    r"(?!ALL\b|DISTINCT\b)(?=SELECT\b|\(\s*SELECT\b)"
)


def _rewrite_bare_setops(sql: str) -> str:
    """ClickHouse set-op defaults: INTERSECT/EXCEPT keep duplicates
    (ALL) unless DISTINCT is written — Spark defaults to DISTINCT, so a
    bare spelling silently changes multiplicities; rewrite to the
    explicit ALL. A bare UNION is an ERROR in ClickHouse (it demands
    ALL or DISTINCT) — same refusal here."""
    while True:
        m = _find_clean(_BARE_SETOP_RE, sql, depth0=False)
        if not m:
            return sql
        op = m.group(1).upper()
        if op == "UNION":
            raise UntranslatableFunctionError(
                "bare UNION: ClickHouse requires UNION ALL or UNION "
                "DISTINCT (union_default_mode is unset) — write one "
                "explicitly"
            )
        sql = f"{sql[: m.start()]}{op} ALL {sql[m.end():]}"


_COLON_CAST_RE = re.compile(r"::\s*([A-Za-z]\w*(?:\([^()]*\))?)")
_HEX_LIT_RE = re.compile(r"\b0x([0-9A-Fa-f]+)\b")


def _rewrite_colon_casts(sql: str) -> str:
    """`expr::ChType` — map the target through the type bridge when it
    parses as a ClickHouse type (`'7'::Int64` -> `'7'::bigint`);
    Spark-native targets pass unchanged. Hex integer literals (`0x1F`)
    become decimal (Spark parses 0x as an identifier)."""
    from clickhouse_arrow_spark.types import ch_type_to_spark, parse_ch_type

    out = []
    last = 0
    mask = _scan_mask(sql)
    for m in _COLON_CAST_RE.finditer(sql):
        if mask[m.start()][1]:
            continue
        try:
            dt, _null = ch_type_to_spark(parse_ch_type(m.group(1)))
            mapped = dt.simpleString()
        except Exception:
            continue
        out.append(sql[last : m.start()])
        out.append(f"::{mapped}")
        last = m.end()
    if out:
        out.append(sql[last:])
        sql = "".join(out)
    out = []
    last = 0
    mask = _scan_mask(sql)
    for m in _HEX_LIT_RE.finditer(sql):
        if mask[m.start()][1]:
            continue
        out.append(sql[last : m.start()])
        out.append(str(int(m.group(1), 16)))
        last = m.end()
    if not out:
        return sql
    out.append(sql[last:])
    return "".join(out)


_LIMIT_OFFSET_RE = re.compile(r"(?i)\bLIMIT\s+(\d+)\s*,\s*(\d+)")


def _rewrite_limit_offset(sql: str) -> str:
    """ClickHouse/MySQL `LIMIT offset, count` -> `LIMIT count OFFSET
    offset` (the form Spark parses)."""
    while True:
        m = _find_clean(_LIMIT_OFFSET_RE, sql, depth0=False)
        if not m:
            return sql
        sql = (
            f"{sql[: m.start()]}LIMIT {m.group(2)} "
            f"OFFSET {m.group(1)}{sql[m.end():]}"
        )


#: `* EXCEPT col` (ClickHouse's unparenthesized single-column form);
#: must not touch the set operator (`... EXCEPT SELECT/ALL/DISTINCT`)
_STAR_EXCEPT_BARE_RE = re.compile(
    r"(?i)\*\s+EXCEPT\s+(?!SELECT\b|ALL\b|DISTINCT\b|\()([A-Za-z_]\w*)"
)

_DISTINCT_ON_RE = re.compile(r"(?i)\bDISTINCT\s+ON\s*\(")


def _rewrite_distinct_on(sql: str) -> str:
    """ClickHouse `SELECT DISTINCT ON (keys) ...` -> the `LIMIT 1 BY
    keys` form (first row per key under the query's ORDER BY), which
    the LIMIT BY rewrite then turns into a row_number() window. The
    LIMIT 1 BY lands at the end of the DISTINCT's OWN scope (before a
    trailing LIMIT of that scope), so subquery forms dedup the
    subquery, not the outer statement."""
    while True:
        m = _find_clean(_DISTINCT_ON_RE, sql, depth0=False)
        if not m:
            return sql
        close = _find_matching_paren(sql, m.end() - 1)
        if close == -1:
            return sql
        depth = _scan_mask(sql)[m.start()][0]
        keys = sql[m.end() : close].strip()
        end = _scope_end(sql, close + 1, depth)
        scope = sql[close + 1 : end]
        # insert before this scope's own trailing LIMIT, if any
        lm = None
        mask = _scan_mask(scope)
        for cand in re.finditer(r"(?i)\bLIMIT\b", scope):
            if not mask[cand.start()][1] and mask[cand.start()][0] == 0:
                lm = cand
                break
        if lm:
            scope = (
                f"{scope[: lm.start()]}LIMIT 1 BY {keys} "
                f"{scope[lm.start():]}"
            )
        else:
            scope = f"{scope.rstrip()} LIMIT 1 BY {keys}"
        sql = f"{sql[: m.start()]}{scope}{sql[end:]}"


_STAR_MOD_RE = re.compile(r"(?i)\*\s+(REPLACE|APPLY)\s*\(")


def _rewrite_star_modifiers(sql: str) -> str:
    """ClickHouse `SELECT * REPLACE (expr AS col, ...)` -> Spark
    `* EXCEPT (col, ...), expr AS col, ...` (replaced columns move to
    the end of the projection — names and values identical, order is
    the documented divergence). `* APPLY (f)` needs the resolved column
    list, which the textual layer does not have — refused with the
    DataFrame recipe."""
    # CH's STRICT modifier (error on a missing column) is Spark's
    # default behavior for * EXCEPT — drop the keyword
    while True:
        sm = _find_clean(
            re.compile(r"(?i)\b(EXCEPT|REPLACE)\s+STRICT\b"), sql,
            depth0=False,
        )
        if not sm:
            break
        sql = f"{sql[: sm.start()]}{sm.group(1)}{sql[sm.end():]}"
    while True:
        m = _find_clean(_STAR_EXCEPT_BARE_RE, sql, depth0=False)
        if not m:
            break
        sql = f"{sql[: m.start()]}* EXCEPT ({m.group(1)}){sql[m.end():]}"
    while True:
        m = _find_clean(_STAR_MOD_RE, sql, depth0=False)
        if not m:
            return sql
        if m.group(1).upper() == "APPLY":
            raise UntranslatableFunctionError(
                "SELECT * APPLY(f) applies f to every column, which "
                "needs the resolved schema; use the DataFrame API — "
                "df.select([f(c).alias(c) for c in df.columns])"
            )
        open_idx = m.end() - 1
        close = _find_matching_paren(sql, open_idx)
        if close == -1:
            return sql
        repls = []
        for item in _split_top_args(sql[open_idx + 1 : close]):
            parts = [
                p
                for p in _split_depth0(_AS_SPLIT_RE, item)
            ]
            if len(parts) < 2:
                raise UntranslatableFunctionError(
                    "* REPLACE items must be `expr AS column`"
                )
            repls.append((" AS ".join(parts[:-1]).strip(), parts[-1].strip()))
        names = ", ".join(n for _, n in repls)
        exprs = ", ".join(f"{e} AS {n}" for e, n in repls)
        sql = f"{sql[: m.start()]}* EXCEPT ({names}), {exprs}{sql[close + 1:]}"


#: `<ident>.<digits>` / `(<...>).<digits>` — CH positional tuple access
_TUPLE_IDX_IDENT_RE = re.compile(r"\b([A-Za-z_]\w*)\.(\d+)\b")
_TUPLE_IDX_PAREN_RE = re.compile(r"\)\.(\d+)\b")


def _rewrite_tuple_index(sql: str) -> str:
    """ClickHouse positional tuple access `t.1` / `(a, b).2` -> struct
    field access `.col{N}` (the field names Spark's `struct()` — and
    therefore the translated `tuple()` — assigns; same 1-based
    approximation as the `tupleElement` formatter). A bare
    parenthesized tuple literal gains an explicit `struct(...)` head,
    since Spark has no anonymous tuple expression."""
    while True:
        m = _find_clean(_TUPLE_IDX_IDENT_RE, sql, depth0=False)
        if m:
            sql = f"{sql[: m.start()]}{m.group(1)}.col{m.group(2)}{sql[m.end():]}"
            continue
        m = _find_clean(_TUPLE_IDX_PAREN_RE, sql, depth0=False)
        if not m:
            return sql
        # walk back to the matching open paren of the `)` we hit
        close = m.start()
        depth = 0
        open_idx = -1
        for k in range(close, -1, -1):
            if sql[k] == ")":
                depth += 1
            elif sql[k] == "(":
                depth -= 1
                if depth == 0:
                    open_idx = k
                    break
        if open_idx == -1:
            return sql
        # a call head must be ADJACENT to its paren (`tuple(...)`); a
        # keyword separated by whitespace (`SELECT (...)`) is not one
        is_call = open_idx > 0 and (
            sql[open_idx - 1].isalnum() or sql[open_idx - 1] in "_`)"
        )
        # head identifier, for recognizing an explicit tuple(...) call
        h_end = open_idx
        h_start = h_end
        while h_start > 0 and (sql[h_start - 1].isalnum() or sql[h_start - 1] == "_"):
            h_start -= 1
        head_name = sql[h_start:h_end] if is_call else ""
        if not is_call or head_name == "tuple":
            # bare `(a, b).N` / explicit `tuple(a, b).N`: extract the
            # Nth element TEXTUALLY — struct(a, b) would name its
            # fields after the columns, so `.colN` cannot work there
            inner = sql[open_idx + 1 : close]
            elems, d, start = [], 0, 0
            imask = _scan_mask(inner)
            for i, ch in enumerate(inner):
                if imask[i][1]:
                    continue
                if ch == "(":
                    d += 1
                elif ch == ")":
                    d -= 1
                elif ch == "," and d == 0:
                    elems.append(inner[start:i])
                    start = i + 1
            elems.append(inner[start:])
            n = int(m.group(1))
            if 1 <= n <= len(elems):
                pre = sql[:h_start] if head_name == "tuple" else sql[:open_idx]
                sql = f"{pre}({elems[n - 1].strip()}){sql[m.end():]}"
                continue
            raise UntranslatableFunctionError(
                f"tuple index .{n} out of range for a {len(elems)}-element "
                "tuple literal"
            )
        sql = (
            f"{sql[:open_idx]}{sql[open_idx : close + 1]}"
            f".col{m.group(1)}{sql[m.end():]}"
        )


#: `WHERE 0` / `HAVING 1` — ClickHouse treats integers as booleans in
#: condition position (generated SQL uses it constantly); Spark is
#: strictly typed. Only the STANDALONE-literal form is rewritten — a
#: numeric sub-expression like `WHERE flag & 4` still raises Spark's
#: own type error, which names the offending expression.
_NUM_COND_RE = re.compile(
    r"(?i)\b(WHERE|HAVING)\s+(\d+)(?=\s*(?:$|;|\)|GROUP\b|ORDER\b|"
    r"LIMIT\b|HAVING\b|WINDOW\b|UNION\b|EXCEPT\b|INTERSECT\b|SETTINGS\b))"
)


def _rewrite_numeric_conditions(sql: str) -> str:
    # literal-aware: `WHERE 1` inside a string literal must not be
    # rewritten (same _find_clean convention as every other statement
    # rewrite; depth0=False — subquery conditions rewrite too)
    pos = 0
    while True:
        m = _find_clean(_NUM_COND_RE, sql, start=pos, depth0=False)
        if not m:
            return sql
        repl = f"{m.group(1)} ({m.group(2)} <> 0)"
        sql = sql[: m.start()] + repl + sql[m.end():]
        pos = m.start() + len(repl)


def _refuse_ch_only_clauses(sql: str) -> str:
    """Strip GLOBAL (a ClickHouse distribution hint — Spark's planner
    owns shuffle placement) and refuse FINAL / ANY / ASOF joins loudly:
    each silently changes row multiplicity if mistranslated."""
    while True:
        m = _find_clean(_GLOBAL_RE, sql, depth0=False)
        if not m:
            break
        sql = sql[: m.start()] + sql[m.end():]
    m = _find_clean(_FINAL_RE, sql, depth0=False)
    if m:
        raise UntranslatableFunctionError(
            "FROM ... FINAL (merge-on-read fold) needs the table's "
            "engine + ORDER BY metadata, which the text does not carry. "
            "Client.query_ch resolves FINAL through the engine catalog "
            "(ddl.rewrite_final) for ReplacingMergeTree(ver) and "
            "SummingMergeTree tables; otherwise deduplicate explicitly — "
            "row_number() OVER (PARTITION BY key ORDER BY version DESC) "
            "= 1 (the analytic_dedup_latest pattern)"
        )
    m = _find_clean(re.compile(r"(?i)\bPASTE\s+JOIN\b"), sql, depth0=False)
    if m:
        raise UntranslatableFunctionError(
            "PASTE JOIN pairs rows by their positional order, which is "
            "undefined over distributed scans — zip explicitly: attach "
            "row_number() OVER (ORDER BY <a deterministic key>) to both "
            "sides and JOIN USING that column"
        )
    m = _find_clean(_ANY_JOIN_RE, sql, depth0=False)
    if m:
        kind = (m.group(1) or m.group(2)).upper()
        if kind == "ASOF":
            raise UntranslatableFunctionError(
                "ASOF JOIN: use operators/asof.asof_join (union + keyed "
                "window backward/forward match) — a textual rewrite "
                "cannot carry the inequality key"
            )
        raise UntranslatableFunctionError(
            "ANY JOIN keeps at most ONE match per row — translating to "
            "a plain join silently changes multiplicity; use "
            "operators.joins.any_join(left, right, on, how, order_by) "
            "(build-side dedup + join), or a LEFT SEMI join when only "
            "existence matters"
        )
    return sql


_COLLATE_RE = re.compile(r"(?i)\bCOLLATE\s+'([^']+)'")

#: words that can precede a '(' without being a function head
_NONCALL_KW_RE = re.compile(
    r"(?i)^(AND|OR|NOT|WHERE|BY|SELECT|WHEN|THEN|ELSE|IN|ON|AS|FROM|"
    r"HAVING|JOIN|USING|ALL|ANY|EXISTS|BETWEEN|LIKE|RLIKE|ILIKE)$"
)


def _expr_span_before(sql: str, pos: int) -> int:
    """Start index of the expression ending just before `pos`:
    an identifier chain, or a parenthesized/call group with an optional
    function-name head. Returns `pos` when nothing matches."""
    j = pos
    while j > 0 and sql[j - 1] in " \t\n":
        j -= 1
    if j > 0 and sql[j - 1] == ")":
        depth = 0
        k = j - 1
        while k >= 0:
            if sql[k] == ")":
                depth += 1
            elif sql[k] == "(":
                depth -= 1
                if depth == 0:
                    break
            k -= 1
        if k < 0:
            return pos
        mm = re.search(r"[A-Za-z_][\w.]*\s*$", sql[:k])
        if mm and not _NONCALL_KW_RE.match(mm.group(0).strip()):
            return mm.start()
        return k
    mm = re.search(r"[A-Za-z_][\w.]*$", sql[:j])
    return mm.start() if mm else pos


def _rewrite_collate(sql: str) -> str:
    """`<expr> COLLATE 'loc'` -> `collate(<expr>, 'loc')` — Spark 4's
    ICU collations take the same locale tags ClickHouse's COLLATE does
    ('en', 'tr', 'en_US', ...)."""
    while True:
        m = _find_clean(_COLLATE_RE, sql, depth0=False)
        if not m:
            return sql
        start = _expr_span_before(sql, m.start())
        if start == m.start():
            return sql  # nothing collatable before it; leave for Spark
        expr = sql[start : m.start()].rstrip()
        sql = (
            f"{sql[:start]}collate({expr}, '{m.group(1)}')"
            f"{sql[m.end():]}"
        )


_ANY_IN_RE = re.compile(r"(?i)=\s*ANY\s*\(")
_ALL_NOTIN_RE = re.compile(r"(?i)(?:!=|<>)\s*ALL\s*\(")


def _rewrite_any_all(sql: str) -> str:
    """`x = ANY (subquery)` -> `x IN (subquery)` and `x <> ALL (...)` ->
    `x NOT IN (...)` — the two quantified comparisons with exact IN
    equivalents (Spark parses neither ANY nor ALL)."""
    while True:
        m = _find_clean(_ANY_IN_RE, sql, depth0=False)
        if not m:
            break
        sql = f"{sql[: m.start()]} IN ({sql[m.end():]}"
    while True:
        m = _find_clean(_ALL_NOTIN_RE, sql, depth0=False)
        if not m:
            break
        sql = f"{sql[: m.start()]} NOT IN ({sql[m.end():]}"
    return sql


_GROUP_BY_EMPTY_RE = re.compile(r"(?i)\bGROUP\s+BY\s*\(\s*\)")


def _rewrite_group_by_empty(sql: str) -> str:
    """CH `GROUP BY ()` = one global aggregate row — Spark spells that
    by having no GROUP BY at all."""
    while True:
        m = _find_clean(_GROUP_BY_EMPTY_RE, sql, depth0=False)
        if not m:
            return sql
        sql = f"{sql[: m.start()]}{sql[m.end():]}"


_IN_BRACKET_RE = re.compile(r"(?i)\b(NOT\s+)?IN\s*\[")


def _rewrite_in_bracket(sql: str) -> str:
    """CH allows an array literal as the IN set: `x IN [1, 2]` — the
    bracket list IS the set, so it becomes the parenthesized form."""
    while True:
        m = _find_clean(_IN_BRACKET_RE, sql, depth0=False)
        if not m:
            return sql
        close = _find_matching(sql, m.end() - 1, "[", "]")
        if close == -1:
            return sql
        notkw = "NOT " if m.group(1) else ""
        inner = sql[m.end() : close]
        sql = f"{sql[: m.start()]}{notkw}IN ({inner}){sql[close + 1:]}"


_TUPLE_IN_RE = re.compile(r"(?i)\b(NOT\s+)?IN\s*\(")


def _rewrite_tuple_in(sql: str) -> str:
    """`(a, b) IN ((1, 'x'), (2, 'y'))` -> named_struct with POSITIONAL
    field names on BOTH sides. Spark's struct IN compares field names
    too, so the bare tuple spelling mismatches (`o_orderkey` vs `col1`);
    CH tuples are nameless. Subquery RHS is left alone — Spark supports
    multi-column IN subqueries natively."""
    i = 0
    while True:
        m = _find_clean(_TUPLE_IN_RE, sql, start=i, depth0=False)
        if not m:
            return sql
        i = m.end()
        j = m.start()
        while j > 0 and sql[j - 1] in " \t\n":
            j -= 1
        if j == 0 or sql[j - 1] != ")":
            continue
        depth = 0
        k = j - 1
        while k >= 0:
            if sql[k] == ")":
                depth += 1
            elif sql[k] == "(":
                depth -= 1
                if depth == 0:
                    break
            k -= 1
        if k < 0:
            continue
        head = re.search(r"[A-Za-z_][\w.]*\s*$", sql[:k])
        if head and not _NONCALL_KW_RE.match(head.group(0).strip()):
            continue  # function call, not a tuple
        lhs_items = _split_top_args(sql[k + 1 : j - 1])
        if len(lhs_items) < 2:
            continue
        close = _find_matching_paren(sql, m.end() - 1)
        if close == -1:
            continue
        rhs_items = _split_top_args(sql[m.end() : close])
        tuples = []
        ok = bool(rhs_items)
        for it in rhs_items:
            st = it.strip()
            if not (st.startswith("(") and st.endswith(")")):
                ok = False
                break
            elems = _split_top_args(st[1:-1])
            if len(elems) != len(lhs_items):
                ok = False
                break
            tuples.append(elems)
        if not ok:
            continue
        names = [f"'_t{x + 1}'" for x in range(len(lhs_items))]

        def ns(elems):
            inner = ", ".join(
                f"{nm}, {el.strip()}" for nm, el in zip(names, elems)
            )
            return f"named_struct({inner})"

        notkw = (m.group(1) or "").strip()
        notkw = f"{notkw} " if notkw else ""
        sql = (
            f"{sql[:k]}{ns(lhs_items)} {notkw}IN "
            f"({', '.join(ns(t) for t in tuples)}){sql[close + 1:]}"
        )
        i = k  # rescan from the rewritten site


_WITH_TIES_RE = re.compile(r"(?i)\bLIMIT\s+(\d+)\s+WITH\s+TIES\s*$")
_ORDER_BY_RE2 = re.compile(r"(?i)\bORDER\s+BY\b")


def _rewrite_limit_with_ties(sql: str) -> str:
    """`ORDER BY <o> LIMIT n WITH TIES` -> a rank() window wrap: every
    row tying with the n-th on the ORDER BY key survives, like CH. Only
    the statement-tail form rewrites; the ORDER BY expressions must be
    resolvable against the query's OWN output columns (they are wrapped
    as a subquery)."""
    s = sql.rstrip().rstrip(";")
    m = _WITH_TIES_RE.search(s)
    if not m or _scan_mask(s)[m.start()][1]:
        return sql
    # the LAST depth-0 ORDER BY before the LIMIT
    mo = None
    start = 0
    while True:
        cand = _find_at_depth(_ORDER_BY_RE2, s, start, 0)
        if not cand or cand.start() >= m.start():
            break
        mo = cand
        start = cand.end()
    if not mo:
        raise UntranslatableFunctionError(
            "LIMIT ... WITH TIES needs an ORDER BY to define the tie key"
        )
    order = s[mo.end() : m.start()].strip()
    body = s[: mo.start()].strip()
    n = m.group(1)
    return (
        f"SELECT * EXCEPT (_ties_rk) FROM (SELECT *, rank() OVER "
        f"(ORDER BY {order}) AS _ties_rk FROM ({body})) "
        f"WHERE _ties_rk <= {n} ORDER BY {order}"
    )


#: the whole-statement passes, in order. PREWHERE folds into WHERE
#: BEFORE alias inlining so select-list aliases resolve inside it too
#: (CH allows them there).
_STATEMENT_PASSES = (
    _refuse_ch_only_clauses, _rewrite_numeric_conditions,
    _rewrite_scalar_with, _rewrite_qualify, _rewrite_top,
    _rewrite_bare_setops, _rewrite_colon_casts, _rewrite_array_join,
    _rewrite_prewhere, _rewrite_view_tvf, _rewrite_numbers_tvf,
    _rewrite_values_tvf, _rewrite_empty_over, _rewrite_exp_decay,
    _rewrite_in_frame, _rewrite_select_alias_refs, _rewrite_with_totals,
    _rewrite_distinct_on, _rewrite_limit_by, _rewrite_limit_with_ties,
    _rewrite_limit_offset, _rewrite_collate, _rewrite_order_nulls,
    _rewrite_any_all, _rewrite_group_by_empty, _rewrite_in_bracket,
    _rewrite_tuple_in, _rewrite_star_modifiers, _rewrite_tuple_index,
    _rewrite_sample,
)
