"""ClickHouse SQL dialect -> Spark SQL translation.

The reference ships SQL text verbatim to a ClickHouse server
(ParsedQuery, clickhouse-arrow/src/query.rs:168-188), so a migrating
user's queries use ClickHouse function names. This package rewrites the
common ClickHouse function surface into Spark SQL so those queries run
on this engine unchanged: `Client.query_ch(sql)`.

The rewriter is a recursive function-call transformer (quote- and
paren-aware), not a full SQL parser. `scan.translate_ch_sql` runs a
statement's whole-statement passes (`statements`), then the token scan,
which resolves every function name through `lookup.lookup`: the exact
table `registry.FUNCTIONS` first, then the pattern families
(combinators, -State/-Merge, ...). Unknown names, identifiers and
keywords are left untouched.

Adding a function: write one formatter in its family module (`dates`,
`strings`, `arrays`, `aggregates`, ...) and register it with the
ClickHouse name(s) and the argument counts it accepts:

    @function("toStartOfWeek", args=(1, 2))
    def start_of_week(a: Args) -> str:
        ...

`args` is a count, `(lo, hi)`, or `(lo, ...)` for no upper bound; a
call outside it raises UntranslatableFunctionError naming the accepted
counts, and a name registered twice fails at import.
"""

# each family module registers its functions on import
from . import (  # noqa: F401
    aggregates, arrays, conditionals, conversions, dates, geo, maps_tuples,
    numeric, strings, system, tables, web,
)
from .clauses import extract_with_fill, rewrite_star_apply
from .registry import (
    UntranslatableFunctionError,
    known_ch_functions,
    suggest_function,
)
from .scan import translate_ch_expr, translate_ch_sql
from .settings import DialectSettings, HONORED_SETTINGS, honored_setting

__all__ = [
    "DialectSettings", "HONORED_SETTINGS", "UntranslatableFunctionError",
    "extract_with_fill", "honored_setting", "known_ch_functions",
    "rewrite_star_apply", "suggest_function", "translate_ch_expr",
    "translate_ch_sql",
]
