"""Date and time functions: truncation, arithmetic, differences,
formatting and parsing, time zones, snowflake IDs and window helpers."""

from __future__ import annotations

import re

from .conversions import _fmt_cast
from .registry import Args, UntranslatableFunctionError, function
from .settings import _SETTINGS

#: what a refused trailing timezone argument says to write instead
_TZ_USAGE = (
    "a timezone argument is not translated: pass toTimeZone(x, tz) "
    "as the value, or toUTCTimestamp(s, tz) for a string read in tz"
)


#: ClickHouse formatDateTime/parseDateTime specifiers -> Spark (Java)
#: datetime pattern fields. %i is minutes; %M is the FULL MONTH NAME in
#: modern ClickHouse (23.4+, setting
#: formatdatetime_parsedatetime_m_is_month_name, default 1 — the
#: legacy minutes reading is honored through that setting, wave 35)
#: and is resolved dynamically in _ch_dt_spec_to_java.
_CH_DT_SPEC = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "D": "MM/dd/yy", "H": "HH", "k": "H", "h": "hh", "I": "hh", "l": "h",
    "i": "mm", "S": "ss", "s": "ss", "f": "SSSSSS", "p": "a",
    "j": "DDD", "a": "EEE", "W": "EEEE", "b": "MMM", "F": "yyyy-MM-dd",
    "T": "HH:mm:ss", "R": "HH:mm", "Q": "q",
    "n": "\n", "t": "\t", "%": "%",
    # %G/%V/%g/%u/%w/%C (ISO year/week, numeric weekdays, century) have
    # no direct Java letters Spark accepts — formatDateTime splices
    # them as expressions via _CH_DT_EXPR_SPEC (wave 35); parseDateTime
    # still refuses them.
}

#: formatDateTime-only specifiers with no Spark pattern letter,
#: spliced into the output as expressions over the input column
#: (generalized from the round-8 %e space-padded-day splice). {x} is
#: the input expression. ISO year = the year of the week's Thursday
#: (extract YEAROFWEEK); ISO week = Spark weekofyear (ISO-8601).
_CH_DT_EXPR_SPEC = {
    "e": "lpad(date_format({x}, 'd'), 2, ' ')",
    "C": "lpad(CAST(CAST(floor(year({x}) / 100) AS INT) AS STRING), "
         "2, '0')",
    "u": "CAST(weekday({x}) + 1 AS STRING)",
    "w": "CAST(dayofweek({x}) - 1 AS STRING)",
    "V": "lpad(CAST(weekofyear({x}) AS STRING), 2, '0')",
    "G": "CAST(extract(YEAROFWEEK FROM {x}) AS STRING)",
    "g": "lpad(CAST(extract(YEAROFWEEK FROM {x}) % 100 AS STRING), "
         "2, '0')",
}


def _ch_dt_spec_to_java(fmt: str, fn_name: str) -> str:
    out: list[str] = []
    lit: list[str] = []  # pending literal-letter run (quoted as one)

    def flush() -> None:
        if lit:
            # inside a Java quoted literal, an embedded quote is ''
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            if fmt[i + 1] == "M":
                # modern CH default: %M = full month name; legacy
                # minutes via formatdatetime_parsedatetime_m_is_
                # month_name = 0 (statement/session scoped, wave 35)
                mapped = "MMMM" if _SETTINGS.get().m_is_month_name else "mm"
            else:
                mapped = _CH_DT_SPEC.get(fmt[i + 1])
            if mapped is None:
                raise UntranslatableFunctionError(
                    f"{fn_name}: specifier %{fmt[i + 1]} has no Spark "
                    "pattern equivalent"
                )
            flush()
            out.append(mapped)
            i += 2
        elif c.isalpha() or c == "'":
            lit.append(c)  # quote literal letters/quotes for Java
            i += 1
        else:
            flush()
            out.append(c)
            i += 1
    flush()
    return "".join(out)
function("toYYYYMM", args=1, usage=_TZ_USAGE)(
    lambda a: f"CAST(year({a[0]}) * 100 + month({a[0]}) AS INT)")
function("toYYYYMMDD", args=1, usage=_TZ_USAGE)(
    lambda a: f"CAST(year({a[0]}) * 10000 + month({a[0]}) * 100 + day({a[0]}) AS INT)"
)
# CH returns Date (not DateTime) from the month-and-coarser
# toStartOf* family — wave-36's one delta, closed in round 11. The
# sub-day family (toStartOfDay/Hour/...) stays DateTime on both
# engines.
function("toStartOfMonth", args=1, usage=_TZ_USAGE)(
    lambda a: f"CAST(date_trunc('month', {a[0]}) AS DATE)")
function("toStartOfDay", args=1, usage=_TZ_USAGE)(
    lambda a: f"date_trunc('day', {a[0]})")
function("toStartOfHour", args=1, usage=_TZ_USAGE)(
    lambda a: f"date_trunc('hour', {a[0]})")
function("toStartOfQuarter", args=1, usage=_TZ_USAGE)(
    lambda a: f"CAST(date_trunc('quarter', {a[0]}) AS DATE)")

# CH default (mode 0) weeks start SUNDAY; Spark date_trunc('week')
# starts Monday. weekday() is Mon=0..Sun=6, so days-since-Sunday
# is (weekday(x)+1) % 7. Mode 1/3 (Monday weeks) maps to
# date_trunc directly.
@function("toStartOfWeek", args=(1, 2), usage=_TZ_USAGE)
def start_of_week(a: Args) -> str:
    mode = a[1].strip() if len(a) > 1 else "0"
    if mode in ("1", "3"):
        return f"CAST(date_trunc('week', {a[0]}) AS DATE)"
    return f"date_sub({a[0]}, (weekday({a[0]}) + 1) % 7)"

# CH is ISO: Mon=1..Sun=7. Spark dayofweek() is Sun=1..Sat=7 —
# a straight rename shifts every value; weekday() (Mon=0) + 1
# reproduces the CH numbering exactly.
function("toDayOfWeek", args=1)(lambda a: f"(weekday({a[0]}) + 1)")
function("toDate", args=1, usage=_TZ_USAGE)(_fmt_cast("DATE"))
# Date32 SATURATES at its range bounds [1900-01-01, 2299-12-31]
# (wave 35): toDate32('2300-01-01') = 2299-12-31 in CH, where a
# plain DATE cast would pass the value through. NULL guard:
# Spark's least/greatest SKIP nulls, so without it a NULL input
# would come back as a clamp bound.
function("toDate32", args=1, usage=_TZ_USAGE)(lambda a: (
    f"IF(CAST({a[0]} AS DATE) IS NULL, CAST(NULL AS DATE), "
    f"greatest(least(CAST({a[0]} AS DATE), DATE '2299-12-31'), "
    f"DATE '1900-01-01'))"
))
function("toDateTime", args=1, usage=_TZ_USAGE)(_fmt_cast("TIMESTAMP"))

for name in (
    "formatDateTime", "parseDateTime", "parseDateTimeOrNull",
    "parseDateTimeOrZero",
):
    # CH specifiers (NOTE: %M and %i are BOTH minutes in CH, unlike
    # MySQL's %M month name) -> Spark datetime pattern. Literal
    # letters are quoted (Java patterns treat bare letters as
    # fields); unknown specifiers refuse instead of silently
    # formatting something else.
    @function(name, args=2, usage=_TZ_USAGE if name == "formatDateTime"
              else f"the timezone form is toUTCTimestamp({name}(s, fmt), tz)")
    def dt_pattern_fmt(a: Args, _name=name) -> str:
        fmt = a[1].strip()
        if not (fmt.startswith("'") and fmt.endswith("'")):
            raise UntranslatableFunctionError(
                f"{_name}: the format must be a string literal (the "
                "specifier mapping happens at translate time)"
            )
        # unescape the SQL literal ('' -> ') before specifier mapping
        raw = fmt[1:-1].replace("''", "'")
        masked = raw.replace("%%", "\x00")
        if _name == "formatDateTime" and any(
            f"%{s}" in masked for s in _CH_DT_EXPR_SPEC
        ):
            # specifiers with no Java letter (%e space-padded day,
            # %C century, %u/%w numeric weekdays, %V/%G/%g ISO
            # week/year — Spark rejects the week-based Java
            # letters): split the format at each and splice the
            # equivalent expression between the formatted chunks
            segs: list[tuple[str, str]] = []
            buf: list[str] = []
            i2 = 0
            while i2 < len(masked):
                if (
                    masked[i2] == "%"
                    and i2 + 1 < len(masked)
                    and masked[i2 + 1] in _CH_DT_EXPR_SPEC
                ):
                    if buf:
                        segs.append(("pat", "".join(buf)))
                        buf = []
                    segs.append(("expr", masked[i2 + 1]))
                    i2 += 2
                else:
                    buf.append(masked[i2])
                    i2 += 1
            if buf:
                segs.append(("pat", "".join(buf)))
            parts = []
            for kind, payload in segs:
                if kind == "expr":
                    parts.append(
                        _CH_DT_EXPR_SPEC[payload].format(x=a[0])
                    )
                else:
                    jf = _ch_dt_spec_to_java(
                        payload.replace("\x00", "%%"), _name
                    ).replace("'", "''")
                    parts.append(f"date_format({a[0]}, '{jf}')")
            if len(parts) == 1:
                return parts[0]
            return f"concat({', '.join(parts)})"
        out_fmt = _ch_dt_spec_to_java(raw, _name)
        sql_fmt = out_fmt.replace("'", "''")  # re-escape for the SQL literal
        if _name == "formatDateTime":
            return f"date_format({a[0]}, '{sql_fmt}')"
        if _name.endswith("OrZero"):
            # CH OrZero: unparseable input -> epoch zero
            return (
                f"coalesce(try_to_timestamp({a[0]}, '{sql_fmt}'), "
                f"TIMESTAMP '1970-01-01 00:00:00')"
            )
        fn = "try_to_timestamp" if _name.endswith("OrNull") else "to_timestamp"
        return f"{fn}({a[0]}, '{sql_fmt}')"

# toStartOfInterval(ts, INTERVAL n unit) -> epoch-floor bucketing
# (the scalar time_bucket; sub-day units only — day+ units go
# through the toStartOf* family)
@function("toStartOfInterval", args=(2, ...))
def start_of_interval(a: Args) -> str:
    m = re.match(
        r"(?i)INTERVAL\s+(\d+)\s+"
        r"(second|minute|hour|day|week|month|quarter|year)s?\s*$",
        a[1].strip(),
    )
    if not m:
        return f"toStartOfInterval({', '.join(a)})"  # untranslated
    n, unit = int(m.group(1)), m.group(2).lower()
    if len(a) > 2:
        # origin form (CH 24.x): buckets anchor at the origin
        # timestamp instead of the epoch — floor the
        # origin-relative offset in seconds
        if unit in ("month", "quarter", "year"):
            raise UntranslatableFunctionError(
                "toStartOfInterval with an origin supports "
                "second..week units here; month+ origins need "
                "calendar arithmetic relative to an arbitrary "
                "anchor — bucket on toStartOfMonth shifted by "
                "the origin month instead"
            )
        secs = n * {
            "second": 1, "minute": 60, "hour": 3600,
            "day": 86400, "week": 604800,
        }[unit]
        o = f"unix_timestamp({a[2]})"
        return (
            f"timestamp_seconds(CAST(floor((unix_timestamp("
            f"{a[0]}) - {o}) / {secs}) AS BIGINT) * {secs} "
            f"+ {o})"
        )
    if unit in ("second", "minute", "hour"):
        secs = n * {"second": 1, "minute": 60, "hour": 3600}[unit]
        return (
            f"timestamp_seconds(CAST(floor(unix_timestamp({a[0]}) "
            f"/ {secs}) AS BIGINT) * {secs})"
        )
    if unit == "day":
        # floor division: DIV truncates toward zero, bucketing
        # pre-1970 values AFTER the input
        return (
            f"date_add(DATE '1970-01-01', CAST("
            f"floor(datediff({a[0]}, DATE '1970-01-01') / {n}) "
            f"* {n} AS INT))"
        )
    if unit == "week":
        # week buckets anchor at 1969-12-29, the Monday of the
        # epoch week (CH weeks are Monday-start here)
        return (
            f"date_add(DATE '1969-12-29', CAST("
            f"floor(datediff({a[0]}, DATE '1969-12-29') / {7 * n}) "
            f"* {7 * n} AS INT))"
        )
    months = n * {"month": 1, "quarter": 3, "year": 12}[unit]
    rel = f"((year({a[0]}) - 1970) * 12 + month({a[0]}) - 1)"
    return (
        f"add_months(DATE '1970-01-01', "
        f"CAST(floor({rel} / {months}) * {months} AS INT))"
    )

function("today", args=0)(lambda a: "current_date()")

for name in ("now", "now64"):
    # now('tz') renders the tz wall clock (CH attaches the zone to
    # the value; Spark values are instants, so shift the rendering).
    # now64(precision[, tz]): Spark timestamps are fixed micro
    # precision, so the precision argument only selects which arg
    # is the timezone.
    @function(name, args=(0, 2) if name == "now64" else (0, 1))
    def now_fmt(a: Args, _64: bool = name == "now64") -> str:
        if _64:
            a = a[1:] if a and a[0].strip().isdigit() else a
        if not a or not a[0].strip():
            return "current_timestamp()"
        return (
            f"from_utc_timestamp(to_utc_timestamp(current_timestamp(), "
            f"current_timezone()), {a[0]})"
        )

# wall-clock shift: the naive rendering matches CH's value in tz
function("toTimeZone", "toTimezone", args=2)(
    lambda a: f"from_utc_timestamp(to_utc_timestamp({a[0]}, "
    f"current_timezone()), {a[1]})"
)
function("timeZone", args=0)(lambda a: "current_timezone()")
# Spark timestamps carry no per-value zone; the session zone is
# the zone every value renders in
function("timeZoneOf", args=1)(lambda a: "current_timezone()")
function("timeZoneOffset", args=1)(
    lambda a: f"CAST(unix_timestamp({a[0]}) - "
    f"unix_timestamp(to_utc_timestamp({a[0]}, current_timezone())) "
    f"AS INT)"
)
function("toStartOfYear", args=1, usage=_TZ_USAGE)(
    lambda a: f"CAST(date_trunc('year', {a[0]}) AS DATE)")
# Spark date_trunc('week') is Monday-start == CH toMonday
function("toMonday", args=1, usage=_TZ_USAGE)(
    lambda a: f"CAST(date_trunc('week', {a[0]}) AS DATE)")
function("toDayOfYear", args=1, usage=_TZ_USAGE)(
    lambda a: f"dayofyear({a[0]})")
function("toUnixTimestamp", args=1, usage="the timezone only changes how a "
         "string parses: toUnixTimestamp(toUTCTimestamp(s, tz)); drop it "
         "for a DateTime")(lambda a: f"unix_timestamp({a[0]})")
function("fromUnixTimestamp", args=1, usage="the format form is "
         "formatDateTime(fromUnixTimestamp(x), fmt)")(
    lambda a: f"timestamp_seconds({a[0]})")

# add/subtract date arithmetic keeps the timestamp type (CH addDays
# on DateTime stays DateTime; Spark date_add degrades to DATE, so
# timestampadd is the faithful mapping)
for unit in ("YEAR", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE", "SECOND"):
    plural = unit.title() + "s"
    function("add" + plural, args=2)(
        lambda a, unit=unit: f"timestampadd({unit}, {a[1]}, {a[0]})")
    function("subtract" + plural, args=2)(
        lambda a, unit=unit: f"timestampadd({unit}, -({a[1]}), {a[0]})")

for name in ("dateDiff", "date_diff", "timestampDiff", "timestamp_diff"):
    # CH dateDiff (and its timestampDiff alias) counts UNIT-BOUNDARY
    # CROSSINGS — dateDiff('year', '2023-12-31', '2024-01-01') = 1 —
    # not complete elapsed units (that is age(), mapped to Spark's
    # timestampdiff). Wave-30 probe finding: the old timestampdiff
    # mapping returned 0 for every boundary-straddling pair.
    # Spark's own date_diff(end, start) is the 2-arg form — only
    # the 3-arg CH shape is rewritten, so Spark-native SQL keeps
    # working through the dialect.
    @function(name, args=(0, 4))
    def date_diff(a: Args, _n: str = name) -> str:
        if len(a) < 3:
            return f"{_n}({', '.join(a)})"
        unit = a[0].strip().strip("'").lower()
        unit = {
            "years": "year", "yy": "year", "yyyy": "year",
            "quarters": "quarter", "qq": "quarter", "q": "quarter",
            "months": "month", "mm": "month",
            "weeks": "week", "wk": "week", "ww": "week",
            "days": "day", "dd": "day", "d": "day",
            "hours": "hour", "hh": "hour",
            "minutes": "minute", "mi": "minute", "n": "minute",
            "seconds": "second", "ss": "second", "s": "second",
            "milliseconds": "millisecond", "ms": "millisecond",
            "microseconds": "microsecond", "us": "microsecond",
            "nanoseconds": "nanosecond", "ns": "nanosecond",
        }.get(unit, unit)
        s, e = a[1], a[2]
        if len(a) > 3:
            # optional tz: count boundaries in that zone's local time
            s = f"convert_timezone('UTC', {a[3]}, {s})"
            e = f"convert_timezone('UTC', {a[3]}, {e})"
        if unit == "year":
            return f"(year({e}) - year({s}))"
        if unit == "quarter":
            return (f"((year({e}) * 4 + quarter({e})) - "
                    f"(year({s}) * 4 + quarter({s})))")
        if unit == "month":
            return (f"((year({e}) * 12 + month({e})) - "
                    f"(year({s}) * 12 + month({s})))")
        if unit == "week":
            # CH weeks start Monday, as does Spark date_trunc('WEEK')
            return (
                f"(datediff(CAST(date_trunc('WEEK', {e}) AS DATE), "
                f"CAST(date_trunc('WEEK', {s}) AS DATE)) DIV 7)"
            )
        if unit == "day":
            return f"datediff(CAST({e} AS DATE), CAST({s} AS DATE))"
        per_sec = {"hour": 3600, "minute": 60}.get(unit)
        if per_sec:
            return (
                f"(CAST(floor(unix_timestamp({e}) / {per_sec}) AS "
                f"BIGINT) - CAST(floor(unix_timestamp({s}) / "
                f"{per_sec}) AS BIGINT))"
            )
        if unit == "second":
            return f"(unix_timestamp({e}) - unix_timestamp({s}))"
        if unit in ("millisecond", "microsecond", "nanosecond"):
            scale = {"millisecond": 1000, "microsecond": 1,
                     "nanosecond": 1}[unit]
            base = (f"(CAST(floor(unix_micros(CAST({e} AS TIMESTAMP))"
                    f" / {scale}) AS BIGINT) - "
                    f"CAST(floor(unix_micros(CAST({s} AS TIMESTAMP))"
                    f" / {scale}) AS BIGINT))")
            if unit == "nanosecond":
                return f"({base} * 1000)"
            return base
        raise UntranslatableFunctionError(
            f"dateDiff: unknown unit {unit!r}"
        )

# Spark timestamps ARE microsecond-precision: micro-truncation
# is the identity, and nanosecond precision does not exist to
# truncate further
function("toStartOfMicrosecond", "toStartOfNanosecond", args=1,
         usage=_TZ_USAGE)(
    lambda a: f"CAST({a[0]} AS TIMESTAMP)")
function("toStartOfMillisecond", args=1, usage=_TZ_USAGE)(lambda a: (
    f"timestamp_millis(unix_millis(CAST({a[0]} AS TIMESTAMP)))"
))

# the inverse of generateULID: the first 10 Crockford-base32
# chars are the 48-bit millisecond timestamp
@function("ULIDStringToDateTime", args=1)
def ulid_fmt(a: Args) -> str:
    alphabet = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
    return (
        f"timestamp_millis(aggregate(split(substring(upper("
        f"{a[0]}), 1, 10), ''), CAST(0 AS BIGINT), "
        f"(__cas_a, __cas_c) -> IF(__cas_c = '', __cas_a, "
        f"__cas_a * 32 + position(__cas_c, '{alphabet}') - 1)))"
    )

# '1h 30m' / '2 days 3 hours' ... -> seconds (double): extract
# every number+unit pair and fold; units cover the CH set
@function("parseTimeDelta", args=1)
def ptd_fmt(a: Args) -> str:
    # longest-first alternation: 'ms'/'mo' must win over 'm'
    pair_re = (
        r"([0-9]*\\.?[0-9]+)\\s*"
        r"(milliseconds?|ms|months?|mo|minutes?|mins?|"
        r"years?|yr|y|weeks?|w|days?|d|hours?|hr|h|"
        r"seconds?|secs?|s|m)"
    )
    unit = "regexp_extract(__cas_p, '([a-z]+)$', 1)"
    num = (
        "CAST(regexp_extract(__cas_p, '([0-9]*\\\\.?[0-9]+)', 1) "
        "AS DOUBLE)"
    )
    secs = (
        f"CASE WHEN {unit} IN ('y','yr') OR {unit} LIKE 'year%' "
        "THEN 31536000.0 "
        f"WHEN {unit} = 'mo' OR {unit} LIKE 'month%' "
        "THEN 2592000.0 "
        f"WHEN {unit} = 'w' OR {unit} LIKE 'week%' "
        "THEN 604800.0 "
        f"WHEN {unit} = 'd' OR {unit} LIKE 'day%' THEN 86400.0 "
        f"WHEN {unit} IN ('h','hr') OR {unit} LIKE 'hour%' "
        "THEN 3600.0 "
        f"WHEN {unit} = 'ms' OR {unit} LIKE 'millisecond%' "
        "THEN 0.001 "
        f"WHEN {unit} = 'm' OR {unit} LIKE 'min%' THEN 60.0 "
        f"WHEN {unit} = 's' OR {unit} LIKE 'sec%' THEN 1.0 "
        "ELSE CAST(NULL AS DOUBLE) END"
    )
    return (
        f"aggregate(regexp_extract_all(lower({a[0]}), "
        f"'{pair_re}', 0), CAST(0 AS DOUBLE), "
        f"(__cas_acc, __cas_p) -> __cas_acc + {num} * {secs})"
    )

# ---- more dates -----------------------------------------------------
function("toStartOfMinute", args=1, usage=_TZ_USAGE)(
    lambda a: f"date_trunc('minute', {a[0]})")
function("toStartOfSecond", args=1, usage=_TZ_USAGE)(
    lambda a: f"date_trunc('second', {a[0]})")
function("yesterday", args=0)(lambda a: "date_sub(current_date(), 1)")
function("toYYYYMMDDhhmmss", args=1, usage=_TZ_USAGE)(lambda a: (
    f"CAST(date_format({a[0]}, 'yyyyMMddHHmmss') AS BIGINT)"
))
function("addQuarters", args=2)(
    lambda a: f"timestampadd(QUARTER, {a[1]}, {a[0]})")
function("subtractQuarters", args=2)(
    lambda a: f"timestampadd(QUARTER, -({a[1]}), {a[0]})")

for name in ("dateAdd", "dateSub"):
    # dateAdd(unit, n, d) / dateAdd(DAY, n, d) -> timestampadd; CH
    # accepts the unit quoted or bare
    @function(name, args=3)
    def date_addsub(a: Args, _sub: bool = name == "dateSub") -> str:
        unit = a[0].strip().strip("'\"").upper()
        n = f"-({a[1]})" if _sub else a[1]
        return f"timestampadd({unit}, {n}, {a[2]})"

# WINDOW VIEW tumbling helpers (CH time-window functions):
# tumbleStart = toStartOfInterval; tumbleEnd = start + the
# interval; tumble = the (start, end) tuple
for name in ("tumble", "tumbleStart", "tumbleEnd"):
    @function(name, args=2)
    def tumble_fmt(a: Args, _n=name) -> str:
        base = start_of_interval(a)
        m2 = re.match(
            r"(?i)INTERVAL\s+(\d+)\s+(\w+?)s?\s*$", a[1].strip()
        )
        if not m2:
            raise UntranslatableFunctionError(
                f"{_n}(time, INTERVAL n unit): the window size "
                "must be an INTERVAL literal"
            )
        end = (
            f"({base} + INTERVAL {m2.group(1)} {m2.group(2)})"
        )
        if _n == "tumbleStart":
            return base
        if _n == "tumbleEnd":
            return end
        return f"struct({base}, {end})"

# WINDOW VIEW hopping helpers: windows are [k*hop, k*hop+size);
# hopStart(t) is the start of the EARLIEST window containing t
# = toStartOfInterval(t, hop) - size + hop; hopEnd = + size.
for name in ("hop", "hopStart", "hopEnd"):
    @function(name, args=3)
    def hop_fmt(a: Args, _n=name) -> str:
        ms = []
        for arg in (a[1], a[2]):
            m2 = re.match(
                r"(?i)INTERVAL\s+(\d+)\s+(\w+?)s?\s*$", arg.strip()
            )
            if not m2:
                raise UntranslatableFunctionError(
                    f"{_n}: hop and window sizes must be INTERVAL "
                    "literals"
                )
            ms.append(m2)
        hop_iv = f"INTERVAL {ms[0].group(1)} {ms[0].group(2)}"
        size_iv = f"INTERVAL {ms[1].group(1)} {ms[1].group(2)}"
        grid = start_of_interval([a[0], a[1]])
        start = f"({grid} - {size_iv} + {hop_iv})"
        end = f"({start} + {size_iv})"
        if _n == "hopStart":
            return start
        if _n == "hopEnd":
            return end
        return f"struct({start}, {end})"

# (y, m, d, h, mi, s [, fraction [, precision]]): the fraction
# scales by 10^-precision (default 3) into the seconds operand;
# a 9th tz arg refuses (pass tz through toTimeZone instead)
@function("makeDateTime64", args=(6, 8), usage="the timezone argument "
          "form is toTimeZone(makeDateTime64(...), tz)")
def make_dt64(a: Args) -> str:
    sec = f"CAST({a[5]} AS DOUBLE)"
    if len(a) >= 7:
        prec = a[7] if len(a) == 8 else "3"
        sec = f"({sec} + ({a[6]}) / pow(10, {prec}))"
    head = ", ".join(a[:5])
    return f"make_timestamp({head}, {sec})"

function("timeSlot", args=1)(lambda a: (
    f"timestamp_seconds((unix_timestamp({a[0]}) DIV 1800) * 1800)"
))

# array of slot starts covering [t, t + duration], slot width
# `size` seconds (default 1800) — one sequence() of timestamps,
# no explode needed
@function("timeSlots", args=(2, 3))
def time_slots(a: Args) -> str:
    t, dur = a[0], a[1]
    sz = a[2] if len(a) > 2 else "1800"
    lo = f"timestamp_seconds((unix_timestamp({t}) DIV ({sz})) * ({sz}))"
    hi = (
        f"timestamp_seconds(((unix_timestamp({t}) + ({dur})) "
        f"DIV ({sz})) * ({sz}))"
    )
    return (
        f"sequence({lo}, {hi}, "
        f"make_dt_interval(0, 0, 0, CAST({sz} AS DOUBLE)))"
    )

for name in (
    "toIntervalDay", "toIntervalWeek", "toIntervalHour", "toIntervalMinute",
    "toIntervalSecond",
):
    slot = {
        "toIntervalDay": "make_dt_interval({0})",
        "toIntervalWeek": "make_dt_interval(({0}) * 7)",
        "toIntervalHour": "make_dt_interval(0, {0})",
        "toIntervalMinute": "make_dt_interval(0, 0, {0})",
        "toIntervalSecond": "make_dt_interval(0, 0, 0, {0})",
    }[name]
    function(name, args=1)(lambda a, slot=slot: slot.format(a[0]))

for name in ("toIntervalMonth", "toIntervalYear", "toIntervalQuarter"):
    slot = {
        "toIntervalMonth": "make_ym_interval(0, {0})",
        "toIntervalQuarter": "make_ym_interval(0, ({0}) * 3)",
        "toIntervalYear": "make_ym_interval({0})",
    }[name]
    function(name, args=1)(lambda a, slot=slot: slot.format(a[0]))

function("toMillisecond", args=1)(
    lambda a: f"CAST(date_format({a[0]}, 'SSS') AS INT)")
# inverse of snowflakeIDToDateTime: ms-since-epoch << 22
function("dateTimeToSnowflakeID", args=(1, 2))(lambda a: (
    f"shiftleft(unix_millis(CAST({a[0]} AS TIMESTAMP)) - "
    f"({a[1] if len(a) > 1 else 0}), 22)"
))
# sessions here run UTC (session.get_spark pins it); CH's
# UTCTimestamp is now() rendered in UTC
function("UTCTimestamp", args=0)(lambda a: "current_timestamp()")
# best-effort chain (CH parser-ast subset): ISO forms via the
# native cast, then the common human formats CH accepts, then
# 9-10 digit strings as unix seconds; unparseable input raises
# (CH throws too) via raise_error
function("parseDateTimeBestEffort", args=1, usage=_TZ_USAGE)(lambda a: (
    f"coalesce({_best_effort_ts(a[0])}, "
    f"CAST(raise_error(concat('parseDateTimeBestEffort: cannot "
    f"parse ', {a[0]})) AS TIMESTAMP))"
))
# Joda patterns ARE Spark's native Java datetime patterns
function("formatDateTimeInJodaSyntax", args=2)(
    lambda a: f"date_format({a[0]}, {a[1]})")
function("parseDateTimeInJodaSyntax", args=2)(
    lambda a: f"to_timestamp({a[0]}, {a[1]})")
function("parseDateTimeInJodaSyntaxOrNull", args=2)(
    lambda a: f"try_to_timestamp({a[0]}, {a[1]})")
# CH OrZero: unparseable input -> the epoch zero timestamp
function("parseDateTimeInJodaSyntaxOrZero", args=2)(lambda a: (
    f"coalesce(try_to_timestamp({a[0]}, {a[1]}), "
    f"TIMESTAMP '1970-01-01 00:00:00')"
))
function("fromUnixTimestampInJodaSyntax", args=2)(
    lambda a: f"date_format(timestamp_seconds({a[0]}), {a[1]})")
function("toUTCTimestamp", args=2)(
    lambda a: f"to_utc_timestamp({a[0]}, {a[1]})")
function("fromUTCTimestamp", args=2)(
    lambda a: f"from_utc_timestamp({a[0]}, {a[1]})")
# seconds from a to b (dateDiff('second', a, b))
function("timeDiff", args=2)(
    lambda a: f"(unix_timestamp({a[1]}) - unix_timestamp({a[0]}))"
)
function("addInterval", args=2)(lambda a: f"({a[0]} + {a[1]})")
# CH mode 0: week runs Sunday..Saturday; next_day is strictly
# after, so Saturday itself maps to itself
function("toLastDayOfWeek", args=1)(
    lambda a: f"date_sub(next_day({a[0]}, 'SU'), 1)")
# Spark's current_timestamp is query-constant; CH's nowInBlock
# advances per block — observable only in very long scans
function("nowInBlock", args=0, usage="the timezone form is "
         "toTimeZone(nowInBlock(), tz)")(lambda a: "current_timestamp()")
function("timezone", "serverTimezone", "serverTimeZone", args=0)(
    lambda a: "current_timezone()")
function("YYYYMMDDToDate", args=1)(
    lambda a: f"to_date(CAST({a[0]} AS STRING), 'yyyyMMdd')")
function("YYYYMMDDhhmmssToDateTime", args=1)(lambda a: (
    f"to_timestamp(CAST({a[0]} AS STRING), 'yyyyMMddHHmmss')"
))

# CH age(unit, a, b) counts COMPLETE units (vs dateDiff's
# boundary crossings) — exactly Spark's timestampdiff
@function("age", args=3, usage=_TZ_USAGE)
def age_fmt(a: Args) -> str:
    u = a[0].strip()
    if u.startswith("'") and u.endswith("'"):
        return f"timestampdiff({u[1:-1].upper()}, {a[1]}, {a[2]})"
    raise UntranslatableFunctionError(
        "age(): the unit must be a string literal"
    )

# ---- numeric buckets / special functions ---------------------------
# precision argument dropped: Spark timestamps are fixed-width
# microsecond (SURVEY §1.3 DateTime64 mapping)
function("toDateTime64", args=(1, 2), usage=_TZ_USAGE)(
    lambda a: f"CAST({a[0]} AS TIMESTAMP)")

for name in ("roundDuration", "roundAge"):
    buckets = (
        [1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, 3600,
         7200, 18000, 36000]
        if name == "roundDuration"
        else [18, 25, 35, 45, 55]
    )
    @function(name, args=1)
    def round_buckets(a: Args, _b: list = buckets, _n: str = name) -> str:
        # CH's fixed bucket ladders: largest bucket <= x (roundAge
        # maps 1..17 -> 17, its documented special case)
        branches = "".join(
            f" WHEN ({a[0]}) >= {v} THEN {v}" for v in reversed(_b)
        )
        low = " WHEN ({x}) >= 1 THEN 17".format(x=a[0]) if _n == "roundAge" else ""
        return f"(CASE{branches}{low} ELSE 0 END)"

# CH returns the FULL month name; without this formatter the
# name would fall through to Spark 4's monthname() builtin,
# which abbreviates ('Mar' vs CH 'March')
function("monthName", args=1)(lambda a: f"date_format({a[0]}, 'MMMM')")

@function("dateName", args=2, usage=_TZ_USAGE)
def date_name(a: Args) -> str:
    part = a[0].strip().strip("'\"").lower()
    fmts = {"month": "MMMM", "weekday": "EEEE"}
    if part in fmts:
        return f"date_format({a[1]}, '{fmts[part]}')"
    funcs = {
        "year": "year", "quarter": "quarter", "week": "weekofyear",
        "dayofyear": "dayofyear", "day": "day", "hour": "hour",
        "minute": "minute", "second": "second",
    }
    if part in funcs:
        return f"CAST({funcs[part]}({a[1]}) AS STRING)"
    raise UntranslatableFunctionError(
        f"dateName: unsupported part {part!r}"
    )

# CH pretty-printer: non-zero parts joined with ', ', singular/
# plural units. Days/hours/minutes/seconds (the CH years/months
# units above 1 month use 360/30-day approximations — callers
# needing those pass an explicit maximum_unit in CH, a form this
# emits in days).
@function("formatReadableTimeDelta", args=1)
def readable_delta(a: Args) -> str:
    x = f"CAST(floor(abs({a[0]})) AS BIGINT)"
    sign = f"IF(({a[0]}) < 0, '-', '')"
    parts = []
    for unit, div, mod in (
        ("day", 86400, None),
        ("hour", 3600, 24),
        ("minute", 60, 60),
        ("second", 1, 60),
    ):
        v = f"({x} div {div})" if mod is None else \
            f"(({x} div {div}) % {mod})"
        parts.append(
            f"CASE WHEN {v} > 0 THEN concat({v}, ' {unit}', "
            f"IF({v} > 1, 's', '')) END"
        )
    # CH joins with ', ' but 'and' before the final part:
    # '2 hours, 8 minutes and 10 seconds'
    body = (
        f"regexp_replace(concat_ws(', ', {', '.join(parts)}), "
        f"', ([^,]*)$', ' and $1')"
    )
    joined = f"concat({sign}, {body})"
    return f"IF({x} = 0, '0 seconds', {joined})"

# difference-preserving ordinals; the absolute origin may differ
# from CH's internal fixed point, deltas match exactly
for unit, fmt in {
    "Year": lambda a: f"year({a[0]})",
    "Quarter": lambda a: f"(year({a[0]}) * 4 + quarter({a[0]}) - 1)",
    "Month": lambda a: f"(year({a[0]}) * 12 + month({a[0]}) - 1)",
    "Week": lambda a: (
        f"(CAST(floor(datediff({a[0]}, DATE '1970-01-05') / 7) "
        f"AS BIGINT) + 1)"
    ),
    "Day": lambda a: f"datediff({a[0]}, DATE '1970-01-01')",
    "Hour": lambda a: f"(unix_timestamp({a[0]}) DIV 3600)",
    "Minute": lambda a: f"(unix_timestamp({a[0]}) DIV 60)",
    "Second": lambda a: f"unix_timestamp({a[0]})",
}.items():
    function(f"toRelative{unit}Num", args=1, usage=_TZ_USAGE)(fmt)

for name in (
    "toStartOfFiveMinutes", "toStartOfTenMinutes", "toStartOfFifteenMinutes",
):
    secs = {"toStartOfFiveMinutes": 300, "toStartOfTenMinutes": 600,
            "toStartOfFifteenMinutes": 900}[name]
    function(name, args=1, usage=_TZ_USAGE)(
        lambda a, _s=secs:
        f"timestamp_seconds((unix_timestamp({a[0]}) DIV {_s}) * {_s})"
    )

# CH maps the time-of-day onto the fixed date 1970-01-02
function("toTime", args=1, usage=_TZ_USAGE)(
    lambda a: f"timestamp_seconds(86400 + "
    f"pmod(unix_timestamp({a[0]}), 86400))"
)

for name in ("timestampAdd", "timestampSub", "timeStampAdd", "timeStampSub"):
    op = "+" if name.lower().endswith("add") else "-"
    function(name, args=2)(lambda a, _op=op: f"({a[0]} {_op} {a[1]})")

# proleptic year 0 is a leap year: 366 days before 0001-01-01
function("toDaysSinceYearZero", args=1)(
    lambda a: f"(datediff({a[0]}, DATE '0001-01-01') + 366)")
function("fromDaysSinceYearZero", args=1)(
    lambda a: f"date_add(DATE '0001-01-01', ({a[0]}) - 366)")
function("toModifiedJulianDay", args=1)(
    lambda a: f"datediff(CAST({a[0]} AS DATE), DATE '1858-11-17')")
function("fromModifiedJulianDay", args=1)(
    lambda a: f"date_add(DATE '1858-11-17', {a[0]})")
function("toISOYear", args=1, usage=_TZ_USAGE)(
    lambda a: f"extract(YEAROFWEEK FROM {a[0]})")

# first day of the ISO year = Jan 4 of the ISO year moved back
# to its Monday (ISO week 1 contains Jan 4) — wave 35
@function("toStartOfISOYear", args=1, usage=_TZ_USAGE)
def start_of_iso_year(a: Args) -> str:
    jan4 = (f"make_date(extract(YEAROFWEEK FROM {a[0]}), 1, 4)")
    return f"date_sub({jan4}, weekday({jan4}))"

for name in ("toWeek", "toYearWeek"):
    @function(name, args=(1, 2), usage=_TZ_USAGE)
    def week_fmt(a: Args, _yw=name == "toYearWeek") -> str:
        mode = a[1].strip() if len(a) > 1 else "0"
        if mode in ("1", "3"):
            wk = f"weekofyear({a[0]})"
            if _yw:
                return (f"(extract(YEAROFWEEK FROM {a[0]}) * 100 + {wk})")
            return wk
        if mode != "0":
            raise UntranslatableFunctionError(
                f"{'toYearWeek' if _yw else 'toWeek'} mode {mode}: only "
                "modes 0 (Sunday weeks) and 1/3 (ISO) are implemented"
            )
        # mode 0 (MySQL WEEK(d,0)): weeks start Sunday; week 1 begins
        # at the year's first Sunday, earlier days are week 0
        jan1 = f"date_trunc('year', {a[0]})"
        first_sun = (
            f"date_add({jan1}, pmod(7 - (weekday({jan1}) + 1), 7))"
        )
        wk = (
            f"(CASE WHEN CAST({a[0]} AS DATE) < {first_sun} THEN 0 "
            f"ELSE datediff({a[0]}, {first_sun}) DIV 7 + 1 END)"
        )
        if _yw:
            raise UntranslatableFunctionError(
                "toYearWeek mode 0: week-0 rows roll into the previous "
                "year's numbering — use mode 3 (ISO) or compute "
                "year(d)*100 + toWeek(d) explicitly if week 0 is "
                "acceptable as-is"
            )
        return wk

function("dateTrunc", args=2)(lambda a: f"date_trunc({a[0]}, {a[1]})")
# same parse as YYYYMMDDToDate + Date32's saturation bounds
function("YYYYMMDDToDate32", args=(1, 2))(lambda a: (
    f"IF(to_date(CAST({a[0]} AS STRING), 'yyyyMMdd') IS NULL, "
    f"CAST(NULL AS DATE), "
    f"greatest(least(to_date(CAST({a[0]} AS STRING), 'yyyyMMdd'), "
    f"DATE '2299-12-31'), DATE '1900-01-01'))"
))

for name in (
    "changeYear", "changeMonth", "changeDay", "changeHour", "changeMinute",
    "changeSecond",
):
    # recompose the timestamp with ONE component replaced; invalid
    # day-of-month SATURATES to the month's last day (CH clamps —
    # changeYear('2020-02-29', 2021) = 2021-02-28). Returns
    # TIMESTAMP even for Date input where CH's changeYear/Month/Day
    # preserve Date — the documented bridge-widening class (the
    # change{Hour,Minute,Second} forms return DateTime in CH too).
    @function(name, args=2)
    def change_component(a: Args, _n=name) -> str:
        x, v = a[0], a[1]
        # the replaced component SATURATES into its valid range
        # (CH clamps out-of-range components rather than raising;
        # ANSI make_timestamp would error on e.g. changeDay(x, 0)
        # or changeMonth(x, 13) — a whole-job killer at scale)
        bounds = {
            "year": (1, 9999), "month": (1, 12), "day": (1, 31),
            "hour": (0, 23), "minute": (0, 59), "second": (0, 59),
        }
        parts = {}
        for c in ("year", "month", "day",
                  "hour", "minute", "second"):
            if _n == f"change{c.capitalize()}":
                lo, hi = bounds[c]
                parts[c] = (f"greatest(least(CAST(({v}) AS BIGINT),"
                            f" {hi}), {lo})")
            else:
                parts[c] = f"{c}({x})"
        # clamp day to the target (year, month)'s length
        last = (f"day(last_day(make_date({parts['year']}, "
                f"{parts['month']}, 1)))")
        parts["day"] = f"least({parts['day']}, {last})"
        return (
            f"make_timestamp({parts['year']}, {parts['month']}, "
            f"{parts['day']}, {parts['hour']}, {parts['minute']}, "
            f"{parts['second']})"
        )

# UUIDv7's first 48 bits are unix milliseconds
function("UUIDv7ToDateTime", args=(1, 2))(lambda a: (
    f"timestamp_millis(CAST(conv(substring(replace({a[0]}, '-', "
    f"''), 1, 12), 16, 10) AS BIGINT))"
))
function("subtractInterval", args=2)(lambda a: f"({a[0]} - {a[1]})")
function("parseDateTimeBestEffortOrNull", "parseDateTime32BestEffortOrNull",
         args=1, usage=_TZ_USAGE)(
    lambda a: _best_effort_ts(a[0]))
function("parseDateTimeBestEffortOrZero", "parseDateTime32BestEffortOrZero",
         args=1, usage=_TZ_USAGE)(
    lambda a: f"coalesce({_best_effort_ts(a[0])}, "
    f"TIMESTAMP '1970-01-01 00:00:00')"
)
function("toUnixTimestamp64Milli", args=1)(lambda a: f"unix_millis({a[0]})")
function("toUnixTimestamp64Micro", args=1)(lambda a: f"unix_micros({a[0]})")
function("toUnixTimestamp64Nano", args=1)(
    lambda a: f"(unix_micros({a[0]}) * 1000)")
function("fromUnixTimestamp64Milli", args=1)(
    lambda a: f"timestamp_millis({a[0]})")
function("fromUnixTimestamp64Micro", args=1)(
    lambda a: f"timestamp_micros({a[0]})")
function("fromUnixTimestamp64Nano", args=1)(
    lambda a: f"timestamp_micros(({a[0]}) DIV 1000)")

for name in ("snowflakeIDToDateTime", "snowflakeIDToDateTime64"):
    # the NEW converter pair (CH 24.6+): epoch parameter in ms since
    # 1970, DEFAULT 0 — unlike the legacy pair's baked-in Twitter
    # epoch below
    @function(name, args=(1, 2), usage="the time_zone argument is "
              "display-only in CH; drop it (Spark renders in the session "
              "zone) or wrap with convert_timezone()")
    def snowflake_id_fmt(a: Args) -> str:
        epoch = a[1] if len(a) == 2 else "0"
        return f"timestamp_millis(shiftright({a[0]}, 22) + {epoch})"

# seconds east of UTC for the session zone at the given instant
function("timezoneOffset", args=1)(
    lambda a: f"(unix_timestamp(from_utc_timestamp({a[0]}, "
    f"current_timezone())) - unix_timestamp({a[0]}))"
)
# Twitter snowflake: ms since 2010-11-04T01:42:54.657Z in the
# top 42 bits (the epoch CH documents)
function("snowflakeToDateTime", "snowflakeToDateTime64", args=1,
         usage=_TZ_USAGE)(
    lambda a: f"timestamp_millis(shiftright({a[0]}, 22) "
    f"+ 1288834974657)"
)
# timestamp-ordered unique id with the real snowflake layout:
# 41-bit millis since the Twitter epoch (the same epoch the
# converters here use) | 10-bit "machine" = partition id |
# 12-bit sequence = row-within-partition (the low bits of
# monotonically_increasing_id — its partition bits live at
# position 33 and MUST NOT be modded away, they'd collide).
# Unique up to 4096 rows/partition/ms, the snowflake guarantee
# class; like CH's, values are NON-deterministic across runs.
function("generateSnowflakeID", args=(0, 1), usage="the machine_id "
         "argument is not translated: the partition id fills the "
         "machine bits")(lambda a: (
    "(shiftleft(unix_millis(current_timestamp()) - 1288834974657,"
    " 22) + shiftleft(pmod(spark_partition_id(), 1024), 12)"
    " + pmod(monotonically_increasing_id(), 4096))"
))
function("dateTimeToSnowflake", "dateTime64ToSnowflake", args=1)(
    lambda a: f"shiftleft(unix_millis({a[0]}) - 1288834974657, 22)"
)


#: parametric aggregates: name(params)(args) -> formatter(params, args)
def _best_effort_ts(x: str) -> str:
    """ClickHouse parseDateTimeBestEffort's format chain as one
    coalesce of try_to_timestamp attempts (NULL when nothing fits):
    ISO via the native cast, slashed dates, day-first and month-first
    human forms, RFC-1123, and 9-10 digit strings as unix seconds —
    the formats CH's best-effort parser documents."""
    tries = ", ".join(
        [f"try_to_timestamp({x})"]
        + [
            f"try_to_timestamp({x}, '{fmt}')"
            for fmt in (
                "yyyy/MM/dd HH:mm:ss",
                "yyyy/MM/dd",
                "dd MMM yyyy HH:mm:ss",
                "dd MMM yyyy",
                "MMM dd yyyy HH:mm:ss",
                "MMM dd yyyy",
                "dd/MM/yyyy HH:mm:ss",
                "dd/MM/yyyy",
                "yyyyMMddHHmmss",
            )
        ]
        + [
            # RFC-1123: Spark >= 3 refuses day-of-week in PARSE
            # patterns, so strip the weekday prefix instead
            f"try_to_timestamp(regexp_replace({x}, "
            f"'^[A-Za-z]{{3}},\\\\s*', ''), 'dd MMM yyyy HH:mm:ss')",
        ]
        + [
            f"IF({x} RLIKE '^[0-9]{{9,10}}$', "
            f"timestamp_seconds(CAST({x} AS BIGINT)), NULL)"
        ]
    )
    return f"coalesce({tries})"
