"""String functions: search, replace, split, pad, encode and decode,
text distances and readable formatting."""

import re

from .registry import Args, UntranslatableFunctionError, function
from .sqltext import _looks_arrayish, _safe_seq1, _split_max_substrings


for name in ("empty", "notEmpty"):
    # CH empty()/notEmpty() accept strings, arrays and maps; Spark's
    # length() is string-only and size() is array/map-only. The
    # textual layer has no types, so recognize array-producing
    # expression heads syntactically and use size() there.
    op = "=" if name == "empty" else ">"

    @function(name, args=1)
    def empty_fmt(a: Args, _op=op) -> str:
        fn = "size" if _looks_arrayish(a[0]) else "length"
        return f"({fn}({a[0]}) {_op} 0)"

# CH: splitByChar(sep, s[, max_substrings]); Spark:
# split(s, regex-escaped sep[, limit]). max_substrings > 0
# DISCARDS the remainder in modern CH (>= 23.12 default) —
# see _split_max_substrings for both modes. splitByString is the
# same contract for multi-char separators.
@function("splitByChar", "splitByString", args=(2, 3))
def split_by_char(a: Args) -> str:
    sep = a[0].strip()
    if sep.startswith("'") and sep.endswith("'"):
        lit = re.escape(sep[1:-1]).replace("\\", "\\\\").replace("'", "\\'")
        sep = f"'{lit}'"
    if len(a) > 2:
        return _split_max_substrings(a[1], sep, a[2])
    return f"split({a[1]}, {sep})"

for name in (
    "position", "positionUTF8", "positionCaseInsensitive",
    "positionCaseInsensitiveUTF8",
):
    # CH position(haystack, needle); Spark locate(needle, haystack)
    # — a silent wrong-answer trap if renamed without the swap.
    # `locate` deliberately NOT routed here: modern CH (>= 24.3)
    # gives locate the MySQL (needle, haystack) order — exactly
    # Spark's — so the pass-through is value-correct (wave-27 pin
    # locate('ca','abca') = 3; wave 38 re-confirmed the docs note
    # and kept the adjudication).
    @function(name, args=(2, 3))
    def position_fmt(a: Args, _ci: bool = "Insensitive" in name) -> str:
        h, n = a[0], a[1]
        # optional 3rd arg: search FROM that 1-based position, the
        # returned index stays absolute — exactly Spark's locate
        start = f", {a[2]}" if len(a) > 2 else ""
        if _ci:
            return f"locate(lower({n}), lower({h}){start})"
        return f"locate({n}, {h}{start})"

# Spark lpad counts characters (UTF-8 safe), covering both forms
function("leftPad", "leftPadUTF8", args=(0, ...))(
    lambda a: f"lpad({', '.join(a)})")
function("rightPad", "rightPadUTF8", args=(0, ...))(
    lambda a: f"rpad({', '.join(a)})")

# CH length() accepts strings, arrays and maps (same dispatch as
# empty()/notEmpty()); Spark's length() is string-only
@function("length", args=1)
def length_fmt(a: Args) -> str:
    fn = "size" if _looks_arrayish(a[0]) else "length"
    return f"{fn}({a[0]})"

# differing bytes over the common prefix + the length surplus;
# `mismatches` is CH's documented alias (wave 38)
@function("byteHammingDistance", "mismatches", args=2)
def bhd_fmt(a: Args) -> str:
    x, y = a[0], a[1]
    return (
        f"(aggregate(sequence(1, CAST(least(octet_length({x}),"
        f" octet_length({y})) AS INT)), 0, (__cas_a, __cas_i) "
        f"-> __cas_a + IF(substring(CAST({x} AS BINARY), "
        f"__cas_i, 1) = substring(CAST({y} AS BINARY), "
        f"__cas_i, 1), 0, 1)) + abs(octet_length({x}) - "
        f"octet_length({y})))"
    )

# byte-addressed substring: slice through BINARY so multi-byte
# characters split exactly as CH's byte semantics do
function("byteSlice", args=3)(lambda a: (
    f"CAST(substring(CAST({a[0]} AS BINARY), {a[1]}, {a[2]}) "
    "AS STRING)"
))
# ---- string / regex -------------------------------------------------
function("match", args=2)(lambda a: f"({a[0]} RLIKE {a[1]})")
function("base64Decode", args=1)(lambda a: f"CAST(unbase64({a[0]}) AS STRING)")
# CH returns '' on invalid input; try_to_binary yields NULL there
function("tryBase64Decode", args=1)(lambda a: (
    f"coalesce(CAST(try_to_binary({a[0]}, 'base64') AS STRING), '')"
))

for name in (
    "ngramDistance", "ngramDistanceCaseInsensitive", "ngramDistanceUTF8",
    "ngramDistanceCaseInsensitiveUTF8",
):
    # CH: 4-gram multiset symmetric difference / total gram count,
    # in [0, 1] (0 = identical). Grams materialize inline; strings
    # shorter than 4 contribute themselves as a single gram so that
    # equal short strings measure 0 and disjoint ones 1.
    # Wave 37: the CaseInsensitive variants lower() both sides; the
    # UTF8 variants are the SAME expression — Spark length/substring
    # are codepoint-based, which IS CH's UTF8 semantics (the byte
    # variants agree on ASCII; see PARITY).
    _ci = "CaseInsensitive" in name

    @function(name, args=(2, ...) if "CaseInsensitive" in name else 2)
    def ngram_dist(a: Args, _lower=_ci) -> str:
        if _lower:
            a = [f"lower({a[0]})", f"lower({a[1]})"] + list(a[2:])
        def grams(s: str) -> str:
            return (
                f"CASE WHEN length({s}) >= 4 THEN "
                f"transform(sequence(1, length({s}) - 3), "
                f"_i -> substring({s}, _i, 4)) "
                f"ELSE array({s}) END"
            )

        ga, gb = grams(a[0]), grams(a[1])
        sym = (
            f"aggregate(array_distinct(concat({ga}, {gb})), 0, "
            f"(_acc, _g) -> _acc + abs(size(filter({ga}, _t -> _t = _g))"
            f" - size(filter({gb}, _t -> _t = _g))))"
        )
        tot = f"(size({ga}) + size({gb}))"
        return (
            f"CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL "
            f"THEN CAST(NULL AS DOUBLE) "
            f"WHEN {tot} = 0 THEN CAST(0 AS DOUBLE) "
            f"ELSE CAST({sym} AS DOUBLE) / {tot} END"
        )

for name in (
    "ngramSearch", "ngramSearchCaseInsensitive", "ngramSearchUTF8",
    "ngramSearchCaseInsensitiveUTF8",
):
    # CH ngramSearch(haystack, needle): NON-symmetric similarity —
    # the multiset count of needle 4-grams also present in the
    # haystack, divided by the needle gram count; 1 = needle fully
    # "in" haystack (docs: ngramSearch('Hello World', 'World Hello')
    # = 0.5 — wave 37 pins that value). Empty needle has zero grams
    # and nothing missing -> 1. Same short-string single-gram
    # fallback and UTF8/codepoint note as ngramDistance above.
    _ci = "CaseInsensitive" in name

    @function(name, args=2)
    def ngram_search(a: Args, _lower=_ci) -> str:
        raw_h, raw_n = a[0], a[1]
        hay, nee = (f"lower({raw_h})", f"lower({raw_n})") if _lower \
            else (raw_h, raw_n)

        def grams(s: str) -> str:
            return (
                f"CASE WHEN length({s}) >= 4 THEN "
                f"transform(sequence(1, length({s}) - 3), "
                f"_i -> substring({s}, _i, 4)) "
                f"ELSE array({s}) END"
            )

        gh, gn = grams(hay), grams(nee)
        common = (
            f"aggregate(array_distinct({gn}), 0, "
            f"(_acc, _g) -> _acc + least("
            f"size(filter({gn}, _t -> _t = _g)), "
            f"size(filter({gh}, _t -> _t = _g))))"
        )
        return (
            f"CASE WHEN ({raw_h}) IS NULL OR ({raw_n}) IS NULL "
            f"THEN CAST(NULL AS DOUBLE) "
            f"WHEN length({raw_n}) = 0 THEN CAST(1 AS DOUBLE) "
            f"ELSE CAST({common} AS DOUBLE) / size({gn}) END"
        )

# CH multiSearchAny(haystack, [n1, n2, ...]) — the needle list
# arrives as an already-translated array(...) expression
function("multiSearchAny", args=2)(
    lambda a: f"exists({a[1]}, _n -> contains({a[0]}, _n))")
function("visibleWidth", args=1)(
    lambda a: f"char_length(cast({a[0]} AS STRING))")
# substrings of consecutive alphanumeric characters
function("splitByNonAlpha", args=1)(
    lambda a: f"regexp_extract_all({a[0]}, '[A-Za-z0-9]+', 0)"
)
function("firstLine", args=1)(
    lambda a: f"regexp_extract({a[0]}, '^[^\\r\\n]*', 0)")

# character n-grams of a string (CH ngrams(s, n)); for token
# shingles over arrays use arrayShingles
@function("ngrams", args=2)
def ngrams_fmt(a: Args) -> str:
    s, n = a[0], a[1]
    idx = _safe_seq1(f"char_length({s}) - ({n}) + 1")
    return f"transform({idx}, _i -> substring({s}, _i, {n}))"

# CH arg order: (data[, kv_delimiter[, pair_delimiter]]);
# whitespace around delimiters is trimmed like CH's parser
@function("extractKeyValuePairs", args=(1, 3))
def ekvp(a: Args) -> str:
    kv = a[1] if len(a) > 1 else "':'"
    pair = a[2] if len(a) > 2 else "','"
    cleaned = (
        f"regexp_replace({a[0]}, "
        f"concat('\\\\s*([', {kv}, {pair}, '])\\\\s*'), '$1')"
    )
    return f"str_to_map({cleaned}, {pair}, {kv})"

# & must encode FIRST or the later entities double-encode
function("encodeXMLComponent", args=1)(lambda a: (
    f"replace(replace(replace(replace(replace({a[0]}, "
    f"'&', '&amp;'), '<', '&lt;'), '>', '&gt;'), "
    f"'\"', '&quot;'), '\\'', '&apos;')"
))

# the five predefined XML entities plus decimal/hex numeric
# references for the ASCII range via char(); &amp; LAST so
# '&amp;lt;' decodes to '&lt;' not '<' (CH order)
@function("decodeXMLComponent", args=1)
def dxml(a: Args) -> str:
    s = a[0]
    num = (
        f"regexp_replace({s}, '&#(\\\\d+);', "
        f"'\\u0001$1\\u0001')"
    )
    # numeric entities are rare; handle via a join-free
    # transform: split on the sentinel and re-assemble
    body = (
        f"array_join(transform(split({num}, '\\u0001'), "
        f"_seg -> CASE WHEN _seg rlike '^[0-9]+$' "
        f"THEN char(cast(_seg AS INT)) ELSE _seg END), '')"
    )
    return (
        f"replace(replace(replace(replace(replace({body}, "
        f"'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        f"'&apos;', '\\''), '&amp;', '&')"
    )

@function("decodeHTMLComponent", args=(0, ...))
def dhtml(a: Args) -> str:
    raise UntranslatableFunctionError(
        "decodeHTMLComponent covers the full HTML5 entity set — "
        "use functions.ch_functions.html_unescape (Arrow-batched "
        "pandas UDF over the stdlib html module); "
        "decodeXMLComponent handles the five XML entities in SQL"
    )

for name in ("sqidEncode", "sqidDecode"):
    @function(name, args=(0, ...))
    def sqid(a: Args, _n=name) -> str:
        raise UntranslatableFunctionError(
            f"{_n}: the sqids library is not in this environment — "
            "generateSnowflakeID / toString(generateUUIDv7()) give "
            "URL-safe unique ids; for reversible int packing use "
            "bin()/conv()"
        )

function("countMatchesCaseInsensitive", args=2)(
    lambda a: f"regexp_count({a[0]}, concat('(?i)', {a[1]}))"
)
# optional max_substrings: modern CH discards the remainder —
# see _split_max_substrings for both modes
function("splitByRegexp", args=(2, 3))(lambda a: (
    _split_max_substrings(a[1], a[0], a[2])
    if len(a) > 2 else f"split({a[1]}, {a[0]})"
))
# CH tokenizer: maximal runs of alphanumerics
function("tokens", args=1)(lambda a: (
    f"filter(split({a[0]}, '[^a-zA-Z0-9]+'), _t -> _t != '')"
))

for name in ("countSubstrings", "countSubstringsCaseInsensitive",
             "countSubstringsUTF8", "countSubstringsCaseInsensitiveUTF8"):
    # Spark strings count code points natively
    @function(name, args=2)
    def count_subs(a: Args, _ci=("Insensitive" in name)) -> str:
        h = f"lower({a[0]})" if _ci else a[0]
        n = f"lower({a[1]})" if _ci else a[1]
        # empty needle -> 0 (CH), not an ANSI division error
        return (
            f"CAST(CASE WHEN length({n}) = 0 THEN 0 ELSE "
            f"(length({h}) - length(replace({h}, {n}, ''))) "
            f"DIV length({n}) END AS BIGINT)"
        )

# per needle: first position, 0 when absent (locate's contract)
function("multiSearchAllPositions", args=2)(
    lambda a: f"transform({a[1]}, _n -> locate(_n, {a[0]}))")
function("multiMatchAny", args=2)(
    lambda a: f"exists({a[1]}, _p -> ({a[0]}) RLIKE _p)")
# first matching pattern's 1-based index, 0 when none match
function("multiMatchAnyIndex", args=2)(lambda a: (
    f"coalesce(array_position(transform({a[1]}, "
    f"_p -> ({a[0]}) RLIKE _p), true), 0)"
))
function("multiMatchAllIndices", args=2)(lambda a: (
    f"filter(transform({_safe_seq1(f'size({a[1]})')}, "
    f"_i -> IF(({a[0]}) RLIKE element_at({a[1]}, _i), _i, 0)), "
    f"_x -> _x > 0)"
))

for name in (
    "hasToken", "hasTokenCaseInsensitive", "hasTokenOrNull",
    "hasTokenCaseInsensitiveOrNull",
):
    @function(name, args=2)
    def has_token(a: Args, _ci=("Insensitive" in name),
                  _or_null=name.endswith("OrNull")) -> str:
        h = f"lower({a[0]})" if _ci else a[0]
        t = f"lower({a[1]})" if _ci else a[1]
        base = f"exists(split({h}, '[^a-zA-Z0-9_]+'), _t -> _t = {t})"
        if _or_null:
            # an ill-formed needle (contains token separators)
            # raises in hasToken but returns NULL here
            return (f"(CASE WHEN ({a[1]}) RLIKE '[^a-zA-Z0-9_]' "
                    f"THEN NULL ELSE {base} END)")
        return base

function("notILike", args=2)(lambda a: f"(NOT (({a[0]}) ILIKE {a[1]}))")
function("alphaTokens", args=1)(lambda a: (
    f"filter(split({a[0]}, '[^a-zA-Z]+'), _t -> _t != '')"
))
function("splitByWhitespace", args=1)(lambda a: (
    f"filter(split({a[0]}, '\\\\s+'), _t -> _t != '')"
))

for name in ("hasSubsequence", "hasSubsequenceCaseInsensitive"):
    # greedy char-pointer fold: O(|haystack|) per row
    @function(name, args=2)
    def has_subseq(a: Args, _ci=(name.endswith("Insensitive"))) -> str:
        h = f"lower({a[0]})" if _ci else a[0]
        n = f"lower({a[1]})" if _ci else a[1]
        return (
            f"(aggregate(split({h}, ''), 0, (_acc, _ch) -> "
            f"IF(_ch != '' AND _acc < length({n}) "
            f"AND _ch = substring({n}, _acc + 1, 1), "
            f"_acc + 1, _acc)) = length({n}))"
        )

# stem('en', s): Porter 1980 from the published spec (the
# English branch); other languages keep a guided refusal
@function("stem", args=(1, ...))
def stem_fmt(a: Args) -> str:
    lang = a[0].strip().strip("'").lower()
    if lang not in ("en", "english"):
        raise UntranslatableFunctionError(
            f"stem({a[0]}, ...): only the English (Porter) "
            "stemmer is implemented; other languages need a "
            "snowball library upstream or a pandas UDF"
        )
    return f"ch_stem_en({a[1]})"

for name in ("base58Encode", "punycodeEncode", "lgamma", "tgamma"):
    # lazily session-registered Arrow-batched UDFs
    # (functions/ch_functions._py_udf_inventory)
    slot = {
        "base58Encode": "ch_base58_encode",
        "punycodeEncode": "ch_punycode_encode",
        "lgamma": "ch_lgamma",
        "tgamma": "ch_tgamma",
    }[name]
    function(name, args=1)(lambda a, s=slot: f"{s}({a[0]})")

for name in ("base58Decode", "punycodeDecode", "idnaEncode", "idnaDecode"):
    # the strict CH forms THROW on invalid input — strictness lives
    # inside the UDF (SQL raise_error constant-folds for literal
    # messages and would fire at plan time)
    slot = {
        "base58Decode": "ch_base58_decode_strict",
        "punycodeDecode": "ch_punycode_decode_strict",
        "idnaEncode": "ch_idna_encode_strict",
        "idnaDecode": "ch_idna_decode_strict",
    }[name]
    function(name, args=1)(lambda a, s=slot: f"{s}({a[0]})")

for name in (
    "tryBase58Decode", "tryPunycodeDecode", "tryIdnaEncode", "tryIdnaDecode",
):
    slot = {
        "tryBase58Decode": "ch_base58_decode",
        "tryPunycodeDecode": "ch_punycode_decode",
        "tryIdnaEncode": "ch_idna_encode",
        "tryIdnaDecode": "ch_idna_decode",
    }[name]
    # CH try-forms return '' on failure
    function(name, args=1)(lambda a, s=slot: f"coalesce({s}({a[0]}), '')")

for name in (
    "normalizeUTF8NFC", "normalizeUTF8NFD", "normalizeUTF8NFKC",
    "normalizeUTF8NFKD",
):
    # Arrow-batched unicodedata UDFs the client registers lazily
    # (functions/ch_functions.unicode_normalize; no JVM ICU
    # normalizer is exposed to Spark SQL)
    form = name[len("normalizeUTF8"):].lower()
    function(name, args=1)(lambda a, f=form: f"ch_normalize_{f}({a[0]})")

for name in ("left", "leftUTF8", "right", "rightUTF8"):
    # CH negative length drops |n| characters from the OTHER end:
    # left('hello', -2) = 'hel', right('hello', -2) = 'llo'.
    # Spark's left/right return '' for negative n.
    @function(name, args=(0, ...))
    def left_right(a: Args, _n: str = name) -> str:
        if len(a) != 2:
            return f"{_n}({', '.join(a)})"
        s, n = a[0], a[1]
        base = "left" if _n.startswith("left") else "right"
        if base == "left":
            neg = f"substr({s}, 1, greatest(length({s}) + ({n}), 0))"
        else:
            neg = f"substr({s}, (-({n})) + 1)"
        return (f"(CASE WHEN ({n}) < 0 THEN {neg} "
                f"ELSE {base}({s}, {n}) END)")

# first match only: splice around regexp_instr/extract — Spark's
# regexp_replace replaces every occurrence
@function("replaceRegexpOne", args=3)
def rro(a: Args) -> str:
    s, p, r = a[0], a[1], a[2]
    if "\\" in r:
        raise UntranslatableFunctionError(
            "replaceRegexpOne with backreferences in the "
            "replacement: use regexp_replace (all occurrences) "
            "or a pandas UDF"
        )
    pos = f"regexp_instr({s}, {p})"
    hit = f"regexp_extract({s}, {p}, 0)"
    return (
        f"CASE WHEN {pos} = 0 THEN {s} ELSE "
        f"concat(substring({s}, 1, {pos} - 1), {r}, "
        f"substring({s}, {pos} + length({hit}))) END"
    )

# CH: all matches (whole match when the pattern has no group,
# group 1 when it has one). Spark's regexp_extract_all needs a
# group index — wrap literal group-less patterns in a group.
@function("extractAll", args=2)
def ext_all(a: Args) -> str:
    p = a[1].strip()
    if p.startswith("'") and p.endswith("'") and "(" not in p:
        return f"regexp_extract_all({a[0]}, '({p[1:-1]})', 1)"
    return f"regexp_extract_all({a[0]}, {a[1]}, 1)"

for name in (
    "extractGroups", "extractAllGroups", "extractAllGroupsHorizontal",
    "extractAllGroupsVertical",
):
    # the group COUNT must be known at translate time, so only
    # literal patterns translate (counted on the raw literal:
    # unescaped '(' not starting a (?: non-capture)
    @function(name, args=(2, ...))
    def ext_groups(a: Args, _name: str = name) -> str:
        p = a[1].strip()
        if not (p.startswith("'") and p.endswith("'")):
            raise UntranslatableFunctionError(
                f"{_name}: the capture-group count comes from the "
                "pattern, so only a literal pattern translates"
            )
        body = p[1:-1]
        # unescape the SQL-LITERAL level first ('' -> ', and \x ->
        # the char x, with \\ -> one backslash) so the count runs on
        # the REGEX-level pattern: '\\(' is an escaped literal paren
        # (no group), while a raw '\(' collapses to '(' — a group,
        # exactly what Spark's literal parser hands the regex engine
        rx, i = [], 0
        sql_body = body.replace("''", "'")
        while i < len(sql_body):
            if sql_body[i] == "\\" and i + 1 < len(sql_body):
                # '\\' -> one regex backslash; '\x' -> the char x
                rx.append(sql_body[i + 1])
                i += 2
            else:
                rx.append(sql_body[i])
                i += 1
        regex = "".join(rx)
        ng, i = 0, 0
        while i < len(regex):
            if regex[i] == "\\":
                i += 2
                continue
            if regex[i] == "(" and regex[i : i + 2] != "(?":
                ng += 1
            i += 1
        if ng == 0:
            raise UntranslatableFunctionError(
                f"{_name}: pattern has no capture groups"
            )
        s = a[0]
        if _name == "extractGroups":
            # first match's groups; [] when nothing matches (CH)
            groups = ", ".join(
                f"regexp_extract({s}, {p}, {g})" for g in range(1, ng + 1)
            )
            return (
                f"IF({s} RLIKE {p}, array({groups}), "
                f"CAST(array() AS ARRAY<STRING>))"
            )
        per_group = [
            f"regexp_extract_all({s}, {p}, {g})" for g in range(1, ng + 1)
        ]
        if _name == "extractAllGroupsHorizontal":
            return f"array({', '.join(per_group)})"
        # Vertical (the bare extractAllGroups alias): one row of
        # groups per match
        elems = ", ".join(
            f"element_at({pg}, _gi)" for pg in per_group
        )
        return (
            f"transform({_safe_seq1(f'size({per_group[0]})')}, "
            f"_gi -> array({elems}))"
        )

# escape the RE2/Java metacharacters CH escapes: backslash, then
# | ( ) ^ $ . [ ] ? * + { : -
function("regexpQuoteMeta", args=1)(lambda a: (
    f"regexp_replace({a[0]}, "
    "'([\\\\\\\\|()^$.\\\\[\\\\]?*+{:-])', '\\\\\\\\$1')"
))

@function("char", args=(0, ...))
def char_fmt(a: Args) -> str:
    if len(a) <= 1:
        return f"char({', '.join(a)})"
    return "concat(" + ", ".join(f"char({x})" for x in a) + ")"

# CH extract(haystack, re) = first capture group if the pattern
# has one, else the whole match. The SQL-standard
# `extract(field FROM ts)` has no comma -> single arg, untouched.
@function("extract", args=(0, ...))
def extract_fmt(a: Args) -> str:
    if len(a) != 2:
        return f"extract({', '.join(a)})"
    pat = a[1].strip()
    grp = 0
    if pat.startswith("'") and pat.endswith("'"):
        body = pat[1:-1]
        k = 0
        in_class = False
        while k < len(body):
            ch = body[k]
            if ch == "\\":
                k += 2
                continue
            if in_class:
                if ch == "]":
                    in_class = False
            elif ch == "[":
                in_class = True
            elif ch == "(":
                if body[k + 1 : k + 2] != "?":
                    grp = 1  # plain capturing group
                    break
                # (?...: only the named form (?<name> captures;
                # (?<= / (?<! are lookbehinds, the rest are
                # flags / non-capturing / lookaheads
                if body[k + 1 : k + 3] == "?<" and body[
                    k + 3 : k + 4
                ] not in ("=", "!"):
                    grp = 1
                    break
            k += 1
    return f"regexp_extract({a[0]}, {pat}, {grp})"

# first-occurrence replace: splice at locate() — Spark's
# replace()/regexp_replace() are all-occurrence only
@function("replaceOne", args=3)
def replace_one(a: Args) -> str:
    s, find, repl = a[0], a[1], a[2]
    loc = f"locate({find}, {s})"
    return (
        f"CASE WHEN {loc} > 0 THEN concat("
        f"substr({s}, 1, {loc} - 1), {repl}, "
        f"substr({s}, {loc} + length({find}))) ELSE {s} END"
    )

@function("format", args=(1, ...))
def format_fmt(a: Args) -> str:
    pat = a[0].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise UntranslatableFunctionError(
            "format(): pattern must be a string literal"
        )
    body = pat[1:-1]
    out, i, auto = [], 0, 0
    while i < len(body):
        if body[i] == "{":
            close = body.find("}", i)
            if close == -1:
                raise UntranslatableFunctionError(
                    f"format(): unbalanced brace in {pat}"
                )
            ref = body[i + 1 : close]
            if ref == "":
                auto += 1
                out.append("%s")
            else:
                out.append(f"%{int(ref) + 1}$s")
            i = close + 1
        elif body[i] == "%":
            out.append("%%")
            i += 1
        else:
            out.append(body[i])
            i += 1
    joined = "".join(out)
    return f"format_string('{joined}', {', '.join(a[1:])})"

# ---- string distance / multi-search --------------------------------
# CH: Jaccard over byte sets; for the string columns this
# engine handles (UTF-8 text) the char-set form is identical on
# ASCII and a documented char-level variant beyond it.
@function("stringJaccardIndex", "stringJaccardIndexUTF8", args=2)
def string_jaccard(a: Args) -> str:
    return (
        f"(CAST(size(array_intersect(split({a[0]}, ''), "
        f"split({a[1]}, ''))) AS DOUBLE) / "
        f"size(array_union(split({a[0]}, ''), split({a[1]}, ''))))"
    )

function("multiSearchFirstPosition", "multiSearchFirstPositionUTF8",
         args=2)(lambda a: (
    f"coalesce(array_min(filter(transform({a[1]}, "
    f"_n -> locate(_n, {a[0]})), _p -> _p > 0)), 0)"
))
# index (1-based, into the needle array) of the needle whose
# match sits leftmost in the haystack; 0 when none match
# try_element_at: an all-miss needle list leaves an EMPTY
# filtered array, which plain element_at raises on under ANSI
function("multiSearchFirstIndex", args=2)(lambda a: (
    f"coalesce(try_element_at(array_sort(filter(zip_with({a[1]}, "
    f"{_safe_seq1(f'size({a[1]})')}, (_n, _i) -> "
    f"struct(locate(_n, {a[0]}) AS pos, _i AS idx)), "
    f"_x -> _x.pos > 0)), 1).idx, 0)"
))
function("multiSearchAnyCaseInsensitive", args=2)(lambda a: (
    f"exists({a[1]}, _n -> contains(lower({a[0]}), lower(_n)))"
))

# documented approximation: drop script/style subtrees, strip
# tags, collapse whitespace (CH additionally handles CDATA and
# comments beyond what a regex pass does)
@function("extractTextFromHTML", args=1)
def extract_text(a: Args) -> str:
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"{a[0]}, '(?is)<(script|style)[^>]*>.*?</\\\\1\\\\s*>', ' '), "
        "'<[^>]*>', ' '), '\\\\s+', ' '))"
    )

for name in (
    "formatReadableSize", "formatReadableQuantity",
    "formatReadableDecimalSize",
):
    # CH pretty-printers: value scaled to the largest unit, always 2
    # decimals. Size uses binary units (KiB..EiB), DecimalSize
    # powers of 1000 (KB..EB), quantity decimal words
    # (thousand..trillion).
    units = (
        [("B", 1), ("KiB", 1024.0), ("MiB", 1024.0**2), ("GiB", 1024.0**3),
         ("TiB", 1024.0**4), ("PiB", 1024.0**5), ("EiB", 1024.0**6)]
        if name == "formatReadableSize"
        else [("B", 1), ("KB", 1e3), ("MB", 1e6), ("GB", 1e9),
              ("TB", 1e12), ("PB", 1e15), ("EB", 1e18)]
        if name == "formatReadableDecimalSize"
        else [("", 1), (" thousand", 1e3), (" million", 1e6),
              (" billion", 1e9), (" trillion", 1e12)]
    )

    @function(name, args=1)
    def readable(a: Args, _units=units) -> str:
        x = f"CAST({a[0]} AS DOUBLE)"
        parts = []
        for i, (suffix, div) in enumerate(_units[:-1]):
            nxt = _units[i + 1][1]
            val = x if div == 1 else f"({x}) / {div!r}"
            label = f" {suffix}" if suffix and not suffix.startswith(" ") else suffix
            parts.append(
                f"WHEN abs({x}) < {nxt!r} THEN "
                f"concat(format_string('%.2f', {val}), '{label}')"
            )
        last_suffix, last_div = _units[-1]
        label = (
            f" {last_suffix}"
            if last_suffix and not last_suffix.startswith(" ")
            else last_suffix
        )
        parts.append(
            f"ELSE concat(format_string('%.2f', ({x}) / {last_div!r}), "
            f"'{label}')"
        )
        return "CASE " + " ".join(parts) + " END"

@function("bar", args=(3, 4))
def bar_fmt(a: Args) -> str:
    x, lo, hi = a[0], a[1], a[2]
    width = a[3] if len(a) > 3 else "80"
    w = (
        f"greatest(least((CAST({x} AS DOUBLE) - ({lo})) / "
        f"(({hi}) - ({lo})), 1.0D), 0.0D) * ({width})"
    )
    w8 = f"CAST(round(({w}) * 8) AS INT)"
    # eighth-block rendering, exactly CH's glyph ramp
    return (
        f"concat(repeat('█', ({w8}) DIV 8), "
        f"element_at(array('', '▏', '▎', '▍', '▌', '▋', '▊', '▉'), "
        f"(({w8}) % 8) + 1))"
    )

# CH emits random BYTES; printable ASCII here (random either way)
function("randomString", args=1)(
    lambda a: f"concat_ws('', transform(sequence(1, {a[0]}), "
    f"i -> char(CAST(rand() * 95 + 32 AS INT))))"
)
function("initcapUTF8", args=1)(lambda a: f"initcap({a[0]})")
# Spark strings are codepoint-based == CH's UTF8 variant
function("substringIndexUTF8", args=(0, ...))(
    lambda a: f"substring_index({', '.join(a)})")

for name in (
    "parseReadableSize", "parseReadableSizeOrNull", "parseReadableSizeOrZero",
):
    # '1.5 KiB' -> bytes: decimal (KB = 1000^k) and binary
    # (KiB = 1024^k) units; ceil like CH (round-trips
    # formatReadableSize). Invalid input: error form raises via
    # ANSI cast NULL..., OrNull -> NULL, OrZero -> 0.
    @function(name, args=1)
    def parse_readable(a: Args, _n=name) -> str:
        # try_cast: an unparseable prefix extracts '' and must
        # route to the per-variant fallback, not an ANSI cast error
        num = (f"try_cast(regexp_extract(trim({a[0]}), "
               f"'^([0-9]+\\\\.?[0-9]*)', 1) AS DOUBLE)")
        unit = (f"lower(regexp_extract(trim({a[0]}), "
                f"'([A-Za-z]+)\\\\s*$', 1))")
        pairs = [("b", 1)]
        for i, p in enumerate("kmgtpezyrq", start=1):
            pairs.append((f"{p}b", 1000 ** i))
            pairs.append((f"{p}ib", 1024 ** i))
        whens = " ".join(
            f"WHEN '{u}' THEN CAST({m} AS DOUBLE)" for u, m in pairs
        )
        mult = f"(CASE {unit} {whens} END)"
        val = f"CAST(ceil({num} * {mult}) AS BIGINT)"
        if _n.endswith("OrZero"):
            return f"coalesce({val}, CAST(0 AS BIGINT))"
        if _n.endswith("OrNull"):
            return val
        return (
            f"coalesce({val}, CAST(raise_error('parseReadableSize: "
            f"cannot parse ' || {a[0]}) AS BIGINT))"
        )

# ---- wave 39 (round 12): residual-family fixes -----------------------
# RFC 4648 §5: '+/' -> '-_', padding stripped (CH emits none)
function("base64URLEncode", "base64UrlEncode", args=1)(lambda a: (
    f"replace(translate(base64(CAST({a[0]} AS BINARY)), "
    f"'+/', '-_'), '=', '')"
))

for name in (
    "base64URLDecode", "base64UrlDecode", "tryBase64URLDecode",
    "tryBase64UrlDecode",
):
    # re-pad to a multiple of 4, reverse the URL alphabet, decode.
    # CH's error form raises on invalid input; unbase64 under ANSI
    # raises too, so the contract carries; try* wraps in try_cast
    @function(name, args=1)
    def b64url_decode(a: Args, _try=name.startswith("try")) -> str:
        padded = (
            f"concat(translate({a[0]}, '-_', '+/'), "
            f"repeat('=', (4 - length({a[0]}) % 4) % 4))"
        )
        expr = f"CAST(unbase64({padded}) AS STRING)"
        if _try:
            # tryBase64URLDecode -> '' on undecodable input (CH)
            return (
                f"coalesce(try_cast(unbase64(try_cast({padded} "
                f"AS STRING)) AS STRING), '')"
            )
        return expr

function("overlayUTF8", args=(0, ...))(lambda a: f"overlay({', '.join(a)})")
function("multiSearchFirstPositionCaseInsensitive",
         "multiSearchFirstPositionCaseInsensitiveUTF8", args=2)(lambda a: (
    f"coalesce(array_min(filter(transform({a[1]}, "
    f"_n -> locate(lower(_n), lower({a[0]}))), "
    f"_p -> _p > 0)), 0)"
))

for name in ("stringBytesUniq", "stringBytesEntropy"):
    # bytes of the UTF-8 encoding via hex pairs (hex() emits two
    # chars per byte) — the let-binding idiom keeps the hex string
    # computed once per element row, not per byte
    @function(name, args=1)
    def string_bytes(a: Args, _ent=name.endswith("Entropy")) -> str:
        bytes_arr = (
            f"transform(sequence(1, octet_length({a[0]})), "
            f"_i -> substring(hex({a[0]}), 2 * _i - 1, 2))"
        )
        if not _ent:
            return (
                f"CASE WHEN octet_length({a[0]}) = 0 THEN 0 ELSE "
                f"size(array_distinct({bytes_arr})) END"
            )
        # Shannon entropy over byte frequencies, log base 2:
        # sum over distinct bytes of -(c/n) log2 (c/n)
        return (
            f"CASE WHEN octet_length({a[0]}) = 0 "
            f"THEN CAST(0.0 AS DOUBLE) ELSE "
            f"element_at(transform(array({a[0]}), _s -> "
            f"aggregate(array_distinct(transform(sequence(1, "
            f"octet_length(_s)), _i -> substring(hex(_s), "
            f"2 * _i - 1, 2))), CAST(0.0 AS DOUBLE), (_acc, _b) -> "
            f"_acc - (CAST(size(filter(transform(sequence(1, "
            f"octet_length(_s)), _j -> substring(hex(_s), 2 * _j - 1, "
            f"2)), _x -> _x = _b)) AS DOUBLE) / octet_length(_s)) "
            f"* log2(CAST(size(filter(transform(sequence(1, "
            f"octet_length(_s)), _j -> substring(hex(_s), 2 * _j - 1, "
            f"2)), _x -> _x = _b)) AS DOUBLE) / octet_length(_s)))), "
            f"1) END"
        )

# random either way (randomString precedent): printable ASCII
function("randomFixedString", "randomPrintableASCII", "randomStringUTF8",
         args=1)(
    lambda a: f"concat_ws('', transform(sequence(1, {a[0]}), "
    f"i -> char(CAST(rand() * 95 + 32 AS INT))))"
)

for name in ("trimBoth", "trimLeft", "trimRight"):
    # 2-arg CH trims take (string, chars); Spark's 2-arg
    # trim/ltrim/rtrim take (trimStr, string) — FLIPPED. The
    # explicit TRIM(BOTH/LEADING/TRAILING x FROM s) syntax is
    # unambiguous in both engines.
    mode = {"trimBoth": "BOTH", "trimLeft": "LEADING",
            "trimRight": "TRAILING"}[name]
    fallback = {"trimBoth": "trim", "trimLeft": "ltrim",
                "trimRight": "rtrim"}[name]

    @function(name, args=(1, 2))
    def trim_fmt(a: Args, _m=mode, _f=fallback) -> str:
        if len(a) == 1:
            return f"{_f}({a[0]})"
        return f"trim({_m} {a[1]} FROM {a[0]})"

for name in (
    "jaroSimilarity", "jaroWinklerSimilarity", "damerauLevenshteinDistance",
):
    # lazily-registered UDFs delegating to the same
    # functions/text_distance kernels as the DataFrame API
    udf = {
        "jaroSimilarity": "ch_jaro",
        "jaroWinklerSimilarity": "ch_jaro_winkler",
        "damerauLevenshteinDistance": "ch_damerau_lev",
    }[name]
    function(name, args=2)(lambda a, _u=udf: f"{_u}({a[0]}, {a[1]})")
