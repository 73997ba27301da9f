"""JSON, URL and IP/MAC address functions."""

from __future__ import annotations

from .registry import Args, UntranslatableFunctionError, function


# ---- URL family (classic ClickHouse web-analytics surface) ----------
function("protocol", args=1)(lambda a: f"parse_url({a[0]}, 'PROTOCOL')")
function("domain", args=1)(lambda a: f"parse_url({a[0]}, 'HOST')")
function("domainWithoutWWW", args=1)(lambda a: (
    f"regexp_replace(parse_url({a[0]}, 'HOST'), '^www\\\\.', '')"
))
function("topLevelDomain", args=1)(lambda a: (
    f"regexp_extract(parse_url({a[0]}, 'HOST'), '\\\\.([^.]+)$', 1)"
))
function("path", args=1)(lambda a: f"parse_url({a[0]}, 'PATH')")
function("queryString", args=1)(lambda a: f"parse_url({a[0]}, 'QUERY')")
function("fragment", args=1)(lambda a: f"parse_url({a[0]}, 'REF')")
function("extractURLParameter", args=2)(
    lambda a: f"parse_url({a[0]}, 'QUERY', {a[1]})")
function("cutQueryString", args=1)(
    lambda a: f"regexp_replace({a[0]}, '\\\\?.*', '')")
function("cutFragment", args=1)(lambda a: f"regexp_replace({a[0]}, '#.*', '')")
function("cutQueryStringAndFragment", args=1)(
    lambda a: f"regexp_replace({a[0]}, '[?#].*', '')")
# CH: everything after the first '?' (question mark dropped); if
# there is no query string, the '#fragment' tail INCLUDING '#';
# '' when neither is present (regexp_extract's no-match value)
function("queryStringAndFragment", args=1)(lambda a: (
    f"IF({a[0]} RLIKE '\\\\?', "
    f"regexp_extract({a[0]}, '\\\\?(.*)$', 1), "
    f"regexp_extract({a[0]}, '(#.*)$', 1))"
))
# form variant: '+' IS a space (plain decodeURLComponent shields it)
function("decodeURLFormComponent", args=1)(
    lambda a: f"url_decode(replace({a[0]}, '+', '%20'))")

# ---- IP family ------------------------------------------------------
@function("IPv4NumToString", args=1)
def ipv4_num_to_string(a: Args) -> str:
    n = a[0]
    octets = [
        f"CAST((({n}) div {1 << (8 * k)}) % 256 AS STRING)"
        for k in (3, 2, 1, 0)
    ]
    return f"concat({octets[0]}, '.', {octets[1]}, '.', {octets[2]}, '.', {octets[3]})"

function("IPv4StringToNum", args=1)(lambda a: (
    f"aggregate(transform(split({a[0]}, '\\\\.'), _o -> CAST(_o AS BIGINT)), "
    f"CAST(0 AS BIGINT), (_acc, _o) -> _acc * 256 + _o)"
))

for name in ("IPv4StringToNumOrNull", "IPv4StringToNumOrDefault"):
    # validity gate first: a malformed address yields NULL (OrNull)
    # or 0 (OrDefault, the type default), never a CAST error
    @function(name, args=1)
    def ip_or_null(a: Args, _dflt=(name.endswith("Default"))) -> str:
        num = (
            f"aggregate(transform(split({a[0]}, '\\\\.'), "
            f"_o -> CAST(_o AS BIGINT)), CAST(0 AS BIGINT), "
            f"(_acc, _o) -> _acc * 256 + _o)"
        )
        valid = (
            f"({a[0]} RLIKE "
            f"'^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\\\.){{3}}"
            f"(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$')"
        )
        fallback = "CAST(0 AS BIGINT)" if _dflt else "CAST(NULL AS BIGINT)"
        return f"(CASE WHEN {valid} THEN {num} ELSE {fallback} END)"

for name in ("toIPv4", "toIPv4OrNull"):
    # the CH IPv4 TYPE is a UInt32 with dotted-quad rendering; the
    # engine keeps the dotted-quad STRING as the carrier (IP
    # functions here accept it directly), validated per variant
    @function(name, args=1)
    def to_ipv4(a: Args, _null=(name.endswith("OrNull"))) -> str:
        valid = (
            f"({a[0]} RLIKE "
            f"'^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\\\.){{3}}"
            f"(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$')"
        )
        return f"(CASE WHEN {valid} THEN {a[0]} ELSE NULL END)"

@function("IPv4CIDRToRange", args=2)
def cidr_range(a: Args) -> str:
    num = (
        f"aggregate(transform(split({a[0]}, '\\\\.'), "
        f"_o -> CAST(_o AS BIGINT)), CAST(0 AS BIGINT), "
        f"(_acc, _o) -> _acc * 256 + _o)"
    )
    blk = f"shiftleft(CAST(1 AS BIGINT), 32 - ({a[1]}))"
    lo = f"(({num}) DIV {blk}) * {blk}"

    def num2str(x: str) -> str:
        return (
            f"concat_ws('.', CAST(({x}) DIV 16777216 AS STRING), "
            f"CAST((({x}) DIV 65536) % 256 AS STRING), "
            f"CAST((({x}) DIV 256) % 256 AS STRING), "
            f"CAST(({x}) % 256 AS STRING))"
        )

    return (
        f"named_struct('min', {num2str(lo)}, "
        f"'max', {num2str(f'{lo} + {blk} - 1')})"
    )

@function("isIPAddressInRange", args=2)
def ip_in_range(a: Args) -> str:
    def ip2num(s: str) -> str:
        return (
            f"aggregate(transform(split({s}, '\\\\.'), "
            f"_o -> CAST(_o AS BIGINT)), CAST(0 AS BIGINT), "
            f"(_acc, _o) -> _acc * 256 + _o)"
        )

    base = f"element_at(split({a[1]}, '/'), 1)"
    bits = f"CAST(element_at(split({a[1]}, '/'), 2) AS INT)"
    blk = f"shiftleft(CAST(1 AS BIGINT), 32 - {bits})"
    return (
        f"(({ip2num(a[0])}) DIV {blk} = ({ip2num(base)}) DIV {blk})"
    )

# JSONExtractString / JSONExtractInt route through this varargs
# json_variant family (multi-key + 1-based index paths)
for name in (
    "JSONExtractFloat", "JSONExtractBool", "JSONExtractRaw", "JSONHas",
    "JSONExtractString", "JSONExtractInt", "JSONExtractUInt",
    "JSONExtractArrayRaw",
):
    cast_to = {
        "JSONExtractFloat": "DOUBLE",
        "JSONExtractBool": "BOOLEAN",
        "JSONExtractInt": "BIGINT",
        "JSONExtractUInt": "BIGINT",
    }.get(name)

    @function(name, args=(1, ...))
    def json_variant(a: Args, _cast: str | None = cast_to,
                     _has: bool = name == "JSONHas",
                     _arr_raw: bool = name == "JSONExtractArrayRaw",
                     ) -> str:
        # CH varargs path (string keys, 1-based int indices)
        segs = []
        for p in a[1:]:
            p = p.strip()
            if p.startswith("'") and p.endswith("'"):
                segs.append(f".{p[1:-1]}")
            elif p.isdigit():
                segs.append(f"[{int(p) - 1}]")
            elif p.lstrip("-").isdigit():
                raise UntranslatableFunctionError(
                    "negative (count-from-end) JSON indices have no "
                    "JSONPath form — compute the length with "
                    "JSONLength() and index positively"
                )
            else:
                segs = None
                break
        if segs is not None:
            path = "'$" + "".join(segs) + "'"
        elif len(a) == 2:
            path = a[1].strip()  # dynamic single-arg path, as-is
        else:
            raise UntranslatableFunctionError(
                "multi-segment JSON paths must be string/int "
                "literals (a dynamic segment cannot be folded into "
                "one JSONPath literal)"
            )
        got = f"get_json_object({a[0]}, {path})"
        if _has:
            return f"({got} IS NOT NULL)"
        if _cast:
            return f"CAST({got} AS {_cast})"
        if _arr_raw:
            # element-wise raw JSON of the array at the path; like
            # JSONExtractRaw, string elements come back unquoted
            # (the family-consistent approximation)
            return f"from_json({got}, 'array<string>')"
        return got

function("isValidJSON", args=1)(
    lambda a: f"(try_parse_json({a[0]}) IS NOT NULL)")

for name in (
    "JSONLength", "JSONType", "JSONExtractKeys", "JSONExtract", "JSON_VALUE",
    "JSON_QUERY", "JSON_EXISTS", "toJSONString", "JSONArrayLength",
):
    def _json_path(parts: Args) -> str | None:
        # CH varargs path: string keys and 1-based integer indices
        # -> one JSONPath literal; non-literal parts defeat the build
        segs = []
        for p in parts:
            p = p.strip()
            if p.startswith("'") and p.endswith("'"):
                segs.append(f".{p[1:-1]}")
            elif p.isdigit():
                segs.append(f"[{int(p) - 1}]")
            elif p.lstrip("-").isdigit():
                raise UntranslatableFunctionError(
                    "negative (count-from-end) JSON indices have no "
                    "JSONPath form — compute the length with "
                    "JSONLength() and index positively"
                )
            else:
                return None
        return "'$" + "".join(segs) + "'"

    @function(name, args=2 if name.startswith("JSON_") else (
        1 if name in ("toJSONString", "JSONArrayLength") else (1, ...)))
    def json_family(a: Args, _name=name, _json_path=_json_path) -> str:
        if _name == "toJSONString":
            return f"to_json({a[0]})"
        if _name == "JSONArrayLength":
            return f"json_array_length({a[0]})"
        if _name in ("JSON_VALUE", "JSON_QUERY"):
            return f"get_json_object({a[0]}, {a[1]})"
        if _name == "JSON_EXISTS":
            return f"(get_json_object({a[0]}, {a[1]}) IS NOT NULL)"
        # varargs-path forms
        typed = None
        parts = a[1:]
        if _name == "JSONExtract":
            t = a[-1].strip()
            if not (t.startswith("'") and t.endswith("'")):
                raise UntranslatableFunctionError(
                    "JSONExtract: the target type must be a string "
                    "literal"
                )
            from clickhouse_arrow_spark.types import (
                ch_type_to_spark,
                parse_ch_type,
            )

            dt, _null = ch_type_to_spark(parse_ch_type(t[1:-1]))
            typed = dt.simpleString()
            parts = a[1:-1]
        path = _json_path(parts) if parts else "'$'"
        if path is None:
            raise UntranslatableFunctionError(
                f"{_name}: path arguments must be string/int literals"
            )
        doc = f"get_json_object({a[0]}, {path})" if parts else a[0]
        if _name == "JSONExtract":
            return f"TRY_CAST({doc} AS {typed})"
        if _name == "JSONExtractKeys":
            return f"json_object_keys({doc})"
        if _name == "JSONLength":
            # array -> element count; object -> key count
            return (
                f"coalesce(json_array_length({doc}), "
                f"size(json_object_keys({doc})))"
            )
        # JSONType: CH names over the raw text's top-level kind
        t = f"trim({doc})"
        return (
            "CASE "
            f"WHEN {doc} IS NULL THEN 'Null' "
            f"WHEN {t} = 'null' THEN 'Null' "
            f"WHEN {t} LIKE '\"%' THEN 'String' "
            f"WHEN {t} IN ('true', 'false') THEN 'Bool' "
            f"WHEN {t} LIKE '[%' THEN 'Array' "
            f"WHEN {t} LIKE '{{%' THEN 'Object' "
            f"WHEN {t} RLIKE '^-?[0-9]+$' THEN 'Int64' "
            "ELSE 'Double' END"
        )

# (json[, path keys...], 'T') -> array of (key, value) structs
# via a typed map parse; CH returns Array(Tuple(String, T))
@function("JSONExtractKeysAndValues", args=(1, ...))
def jkv_fmt(a: Args) -> str:
    t = a[-1].strip()
    if not (t.startswith("'") and t.endswith("'")):
        raise UntranslatableFunctionError(
            "JSONExtractKeysAndValues: the value type must be "
            "a string literal"
        )
    from clickhouse_arrow_spark.types import (
        ch_type_to_spark,
        parse_ch_type,
    )

    dt, _null = ch_type_to_spark(parse_ch_type(t[1:-1]))
    doc = a[0]
    if len(a) > 2:
        segs = []
        for p in a[1:-1]:
            p = p.strip()
            if not (p.startswith("'") and p.endswith("'")):
                raise UntranslatableFunctionError(
                    "JSONExtractKeysAndValues: path keys must "
                    "be string literals"
                )
            segs.append(f".{p[1:-1]}")
        doc = f"get_json_object({a[0]}, '$" + "".join(segs) + "')"
    return (
        f"map_entries(from_json({doc}, "
        f"'map<string,{dt.simpleString()}>'))"
    )

function("JSONExtractKeysAndValuesRaw", args=1)(lambda a: (
    f"map_entries(from_json({a[0]}, 'map<string,string>'))"
))

# RFC 7386 merge patch (lazily-registered pandas UDF); CH takes
# N arguments and folds left
@function("JSONMergePatch", "jsonMergePatch", args=(2, ...))
def jmp_fmt(a: Args) -> str:
    out = a[0]
    for nxt in a[1:]:
        out = f"ch_json_merge_patch({out}, {nxt})"
    return out

function("isIPv4String", args=1)(lambda a: (
    f"({a[0]} RLIKE "
    "'^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\\\.)"
    "{{3}}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$')"
    .replace("{{3}}", "{3}")
))
# full/compressed hex-group forms (::-abbreviated included)
function("isIPv6String", args=1)(lambda a: (
    f"({a[0]} RLIKE '^([0-9A-Fa-f]{{1,4}}:){{7}}[0-9A-Fa-f]{{1,4}}$' "
    f"OR ({a[0]} RLIKE '^([0-9A-Fa-f]{{0,4}}:){{2,7}}(:|[0-9A-Fa-f]"
    f"{{1,4}})$' AND {a[0]} LIKE '%::%'))"
))
# CH renders space as %20 (url_encode gives form-style '+')
function("encodeURLComponent", args=1)(
    lambda a: f"replace(url_encode({a[0]}), '+', '%20')")
# CH decodes %XX only; a literal '+' stays '+' (url_decode
# would turn it into a space) — shield it first
function("decodeURLComponent", args=1)(
    lambda a: f"url_decode(replace({a[0]}, '+', '%2B'))")
function("extractURLParameters", args=1)(lambda a: (
    f"filter(split(coalesce(parse_url({a[0]}, 'QUERY'), ''), '&'), "
    f"_p -> _p != '')"
))
function("extractURLParameterNames", args=1)(lambda a: (
    f"transform(filter(split(coalesce(parse_url({a[0]}, 'QUERY'), "
    f"''), '&'), _p -> _p != ''), _p -> split_part(_p, '=', 1))"
))
function("pathFull", args=1)(lambda a: (
    f"concat(coalesce(parse_url({a[0]}, 'PATH'), ''), "
    f"IF(parse_url({a[0]}, 'QUERY') IS NULL, '', "
    f"concat('?', parse_url({a[0]}, 'QUERY'))))"
))
function("cutWWW", args=1)(lambda a: (
    f"regexp_replace({a[0]}, '^([a-zA-Z]+://)?www\\\\.', '$1')"
))

@function("port", args=(1, 2))
def port_fmt(a: Args) -> str:
    # scheme-prefixed URL OR scheme-less host:port — CH's
    # port('host:80') returns 80 (ADVICE round 4: the scheme-less
    # alternative was missing, silently yielding the default)
    default = a[1] if len(a) > 1 else "0"
    got = (
        f"try_cast(regexp_extract({a[0]}, "
        f"'^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#:]+:([0-9]+)', 1) "
        f"AS INT)"
    )
    return f"coalesce({got}, {default})"

# legacy fast-path JSON accessors; both families share semantics
def _json_get(a: Args) -> str:
    return f"get_json_object({a[0]}, concat('$.', {a[1]}))"


for suffix, fmt in {
    "ExtractString": _json_get,
    "ExtractRaw": _json_get,
    "ExtractInt": lambda a: f"CAST({_json_get(a)} AS BIGINT)",
    "ExtractUInt": lambda a: f"CAST({_json_get(a)} AS BIGINT)",
    "ExtractFloat": lambda a: f"CAST({_json_get(a)} AS DOUBLE)",
    "ExtractBool": lambda a: f"({_json_get(a)} = 'true')",
    "Has": lambda a: f"({_json_get(a)} IS NOT NULL)",
}.items():
    function("visitParam" + suffix, "simpleJSON" + suffix, args=2)(fmt)

# dotted quad with the host octet masked as 'xxx'
@function("IPv4NumToStringClassC", args=1)
def ipv4_class_c(a: Args) -> str:
    n = a[0]
    octs = [
        f"CAST((({n}) div {d}) % 256 AS STRING)"
        for d in (16777216, 65536, 256)
    ]
    return f"concat({octs[0]}, '.', {octs[1]}, '.', {octs[2]}, '.', 'xxx')"

# string-carrier convention (toIPv4/OrNull above): invalid ->
# the IPv4 type default, rendered '0.0.0.0'
@function("toIPv4OrZero", args=1)
def to_ipv4_or_zero(a: Args) -> str:
    valid = (
        f"({a[0]} RLIKE "
        f"'^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\\\.){{3}}"
        f"(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$')"
    )
    return f"(CASE WHEN {valid} THEN {a[0]} ELSE '0.0.0.0' END)"

# six ':'-joined uppercase hex bytes, high byte first
@function("MACNumToString", args=1)
def mac_num_to_string(a: Args) -> str:
    octs = ", ".join(
        f"lpad(hex((CAST({a[0]} AS BIGINT) div "
        f"{1 << (8 * k)}) % 256), 2, '0')"
        for k in (5, 4, 3, 2, 1, 0)
    )
    return f"concat_ws(':', {octs})"

function("MACStringToNum", args=1)(lambda a: (
    f"CAST(conv(replace({a[0]}, ':', ''), 16, 10) AS BIGINT)"
))
function("MACStringToOUI", args=1)(lambda a: (
    f"CAST(conv(substring(replace({a[0]}, ':', ''), 1, 6), "
    f"16, 10) AS BIGINT)"
))
function("netloc", args=1)(lambda a: f"parse_url({a[0]}, 'AUTHORITY')")

for name in ("firstSignificantSubdomain", "cutToFirstSignificantSubdomain"):
    @function(name, args=1)
    def fss_fmt(a: Args, _cut=name.startswith("cut")) -> str:
        parts = f"split(parse_url({a[0]}, 'HOST'), '\\\\.')"
        # CH's builtin short second-level list (com/net/org/co/...)
        second = f"element_at({parts}, -2)"
        cond = (
            f"(size({parts}) > 2 AND {second} IN "
            f"('com', 'net', 'org', 'co', 'gov', 'edu', 'mil', 'ac'))"
        )
        if _cut:
            return (
                f"(CASE WHEN {cond} THEN concat_ws('.', "
                f"element_at({parts}, -3), element_at({parts}, -2), "
                f"element_at({parts}, -1)) "
                f"ELSE concat_ws('.', element_at({parts}, -2), "
                f"element_at({parts}, -1)) END)"
            )
        return (
            f"(CASE WHEN {cond} THEN element_at({parts}, -3) "
            f"ELSE element_at({parts}, -2) END)"
        )
