"""The ClickHouse function registry: one table, FUNCTIONS, filled by one
decorator, `function`, that names the ClickHouse function(s) a formatter
translates and the argument counts it accepts.

A formatter takes the call's translated argument texts and returns the
Spark SQL text. The argument count is checked here, once, before any
formatter runs: a call outside the declared range raises
UntranslatableFunctionError naming the accepted counts. Names resolved by
pattern rather than by exact name (aggregate combinators, -State/-Merge,
...) are the resolvers of `lookup.py`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

Args = list[str]
Formatter = Callable[..., str]


class UntranslatableFunctionError(ValueError):
    """A ClickHouse function whose silent translation would change
    query RESULTS (not just performance)."""


def _counts(lo: int, hi: int | None, what: str) -> str:
    if hi == lo:
        text = str(lo)
    elif hi is None:
        text = f"at least {lo}"
    elif hi == lo + 1:
        text = f"{lo} or {hi}"
    else:
        text = f"{lo}..{hi}"
    return f"{text} {what}{'' if lo == 1 and hi in (1, None) else 's'}"


def _check(entry: Entry, got: int, lo: int, hi: int | None,
           what: str) -> None:
    if got < lo or (hi is not None and got > hi):
        usage = f" — {entry.usage}" if entry.usage else ""
        raise UntranslatableFunctionError(
            f"{entry.name}() takes {_counts(lo, hi, what)}, got {got}{usage}"
        )


@dataclass(frozen=True)
class Entry:
    """One translatable form of a ClickHouse function: the formatter and
    the argument counts it accepts (`hi` None: no upper bound). A
    parametric form `name(params)(args)` also bounds its parameter
    group and its formatter takes (params, args). `usage` follows the
    counts in the error a wrong count raises."""

    name: str
    fmt: Formatter
    lo: int
    hi: int | None
    params: tuple[int, int | None] | None = None
    usage: str = ""

    def __call__(self, args: Args, params: Args | None = None) -> str:
        _check(self, len(args), self.lo, self.hi, "argument")
        if self.params is None:
            return self.fmt(args)
        _check(self, len(params), *self.params, "parameter")
        return self.fmt(params, args)


#: (ClickHouse name, parametric form?) -> Entry
FUNCTIONS: dict[tuple[str, bool], Entry] = {}


def _bounds(n) -> tuple[int, int | None]:
    """`2` -> (2, 2); `(1, 3)` -> (1, 3); `(1, ...)` -> (1, None)."""
    if isinstance(n, int):
        return n, n
    lo, hi = n
    return lo, None if hi is ... else hi


def function(
    *names: str, args, params=None, usage: str = ""
) -> Callable[[Formatter], Formatter]:
    """Register the decorated formatter for each ClickHouse name. `args`
    (and, for the parametric form, `params`) is a count, `(lo, hi)`, or
    `(lo, ...)` for no upper bound; `usage` is the spelling a wrong
    count's error shows. A name registered twice raises."""
    lo, hi = _bounds(args)
    form = None if params is None else _bounds(params)

    def register(fmt: Formatter) -> Formatter:
        for name in names:
            key = (name, form is not None)
            if key in FUNCTIONS:
                raise ValueError(f"{name} is registered twice")
            FUNCTIONS[key] = Entry(name, fmt, lo, hi, form, usage)
        return fmt

    return register


def refuse(message: str) -> Formatter:
    """A formatter that refuses the call with `message`: it raises when
    called, never when looked up."""

    def refusal(a: Args) -> str:
        raise UntranslatableFunctionError(message)

    return refusal


def known_ch_functions() -> frozenset:
    """Every ClickHouse name registered by exact name. Used for
    did-you-mean hints and system.functions."""
    return frozenset(name for name, _ in FUNCTIONS)


def suggest_function(name: str) -> str | None:
    """A did-you-mean hint for an unresolved function: exact
    case-insensitive match first (CH names are case-sensitive), then
    edit-distance neighbors."""
    import difflib

    known = known_ch_functions()
    lower = {k.lower(): k for k in known}
    if name.lower() in lower and lower[name.lower()] != name:
        return (
            f"ClickHouse function names are case-sensitive: did you mean "
            f"{lower[name.lower()]!r}?"
        )
    close = difflib.get_close_matches(name, known, n=3, cutoff=0.75)
    if close:
        return "similar ClickHouse functions: " + ", ".join(close)
    # combinator chain on a known base: hint the strip
    base = name
    stripped = []
    for _ in range(3):
        for suf in ("If", "Distinct", "OrNull", "OrDefault", "Array",
                    "Merge", "State", "ForEach", "SimpleState"):
            if base.endswith(suf) and len(base) > len(suf):
                stripped.append(suf)
                base = base[: -len(suf)]
                break
        else:
            break
    if stripped and base in known:
        return (
            f"{name} chains -{'/-'.join(stripped)} onto {base}(): this "
            f"combinator combination is not translated — express the "
            f"{'/'.join(stripped)} semantics around a plain {base}() "
            "call (FILTER clause, DISTINCT argument, or coalesce over "
            "the empty-set default)"
        )
    return None
