"""Geo functions: distances, point-in-shape tests, geohash, Morton
and Hilbert codes, and the pure-bit H3 accessors."""

from .registry import Args, UntranslatableFunctionError, function
from .sqltext import _split_top_args, _tuple_literal_elems


# pointInEllipses(x, y, x0, y0, a0, b0[, x1, y1, a1, b1, ...]):
# 1 if (x,y) falls inside ANY ellipse
@function("pointInEllipses", args=(6, ...), usage="x, y plus one or more "
          "(x0, y0, a, b) ellipse quadruples")
def pt_in_ellipses(a: Args) -> str:
    if (len(a) - 2) % 4 != 0:
        raise UntranslatableFunctionError(
            "pointInEllipses takes x, y plus one or more "
            "(x0, y0, a, b) ellipse quadruples"
        )
    x, y = a[0], a[1]
    terms = []
    for i in range(2, len(a), 4):
        cx, cy, sa, sb = a[i], a[i + 1], a[i + 2], a[i + 3]
        terms.append(
            f"(pow(({x}) - ({cx}), 2) / pow({sa}, 2) "
            f"+ pow(({y}) - ({cy}), 2) / pow({sb}, 2) <= 1.0)"
        )
    return f"cast(({' OR '.join(terms)}) AS INT)"

# even-odd ray casting as one aggregate() fold (the SQL twin of
# functions/ch_functions.point_in_polygon); both args must be
# literals in the SQL form — columns go through the Python API
@function("pointInPolygon", args=(1, ...))
def pip_fmt(a: Args) -> str:
    pt = _tuple_literal_elems(a[0])
    if pt is None or len(pt) != 2:
        raise UntranslatableFunctionError(
            "pointInPolygon: the point must be an (x, y) tuple "
            "literal in SQL; for columns use "
            "functions.ch_functions.point_in_polygon"
        )
    verts = _split_top_args(a[1][6:-1]) if a[1].strip().startswith(
        "array("
    ) else None
    if not verts:
        raise UntranslatableFunctionError(
            "pointInPolygon: the polygon must be a literal array "
            "of (x, y) tuples in SQL; for columns use "
            "functions.ch_functions.point_in_polygon"
        )
    vs = []
    for v in verts:
        e = _tuple_literal_elems(v)
        if e is None or len(e) != 2:
            raise UntranslatableFunctionError(
                "pointInPolygon: every vertex must be an (x, y) "
                "tuple literal"
            )
        vs.append(
            f"named_struct('x', CAST({e[0]} AS DOUBLE), "
            f"'y', CAST({e[1]} AS DOUBLE))"
        )
    arr = f"array({', '.join(vs)})"
    px = f"CAST({pt[0]} AS DOUBLE)"
    py = f"CAST({pt[1]} AS DOUBLE)"
    return (
        f"aggregate({arr}, "
        f"named_struct('inside', false, "
        f"'px', element_at({arr}, -1).x, "
        f"'py', element_at({arr}, -1).y), "
        f"(_acc, _v) -> named_struct("
        f"'inside', IF(((_v.y > {py}) != (_acc.py > {py})) AND "
        f"({px} < (_acc.px - _v.x) * ({py} - _v.y) / "
        f"nullif(_acc.py - _v.y, CAST(0 AS DOUBLE)) + _v.x), "
        f"NOT _acc.inside, _acc.inside), "
        f"'px', _v.x, 'py', _v.y), "
        f"_acc -> CAST(_acc.inside AS TINYINT))"
    )

# --- pure-bit H3 accessors (wave 33): the H3 index layout is a
# published spec (1 reserved bit, 4 mode, 3 reserved, 4 resolution,
# 7 base cell, 15x3 digits) — these need no geo math, just shifts
function("h3GetResolution", args=1)(
    lambda a: f"CAST(shiftright({a[0]}, 52) & 15 AS INT)")
function("h3GetBaseCell", args=1)(
    lambda a: f"CAST(shiftright({a[0]}, 45) & 127 AS INT)")

# pentagons at every resolution are the center-child chains of
# the 12 res-0 pentagon base cells: all digits 1..res are 0 and
# the unused digits are 7s, i.e. the low 45 bits equal
# 2^(3*(15-res)) - 1
@function("h3IsPentagon", args=1)
def h3_is_pentagon(a: Args) -> str:
    h = a[0]
    res = f"(shiftright({h}, 52) & 15)"
    # the 12 res-0 pentagons (icosahedron vertices) come in
    # antipodal pairs b + (121 - b): 4/117, 14/107, 24/97,
    # 38/83, 49/72, 58/63
    return (
        f"(CAST(shiftright({h}, 45) & 127 AS INT) IN "
        f"(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117) AND "
        f"({h} & 35184372088831) = "
        f"shiftleft(CAST(1 AS BIGINT), 3 * (15 - {res})) - 1)"
    )

# ---- geo ------------------------------------------------------------
# exact haversine on CH's sphere radius (6372797.560856 m).
# Divergence note: CH's implementation is a fast sincos
# approximation (and geoDistance adds ellipsoid correction), so
# values differ from CH's by <0.05%; this form is the
# mathematically exact great-circle distance.
@function("greatCircleDistance", "geoDistance", args=4)
def great_circle(a: Args) -> str:
    lon1, lat1, lon2, lat2 = a[0], a[1], a[2], a[3]
    return (
        f"(2 * 6372797.560856 * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )

@function("greatCircleAngle", args=4)
def great_circle_angle_fmt(a: Args) -> str:
    lon1, lat1, lon2, lat2 = a[0], a[1], a[2], a[3]
    return (
        f"degrees(2 * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )

# n-ary bit interleave (CH: bit i of argument j lands at
# position i*n + j — mortonEncode(1, 2, 3) = 53), one JVM
# aggregate over floor(64/n) bit positions
@function("mortonEncode", args=(1, 8))
def morton_fmt(a: Args) -> str:
    n = len(a)
    if n == 1:
        return f"CAST({a[0]} AS BIGINT)"
    bits = 64 // n
    terms = " + ".join(
        f"shiftleft(shiftright(CAST({arg} AS BIGINT), i) & 1, "
        f"{n} * i + {j})"
        for j, arg in enumerate(a)
    )
    return (
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + {terms})"
    )

# inverse interleave: component j gathers bits i*n + j; n must
# be a literal (CH requires a constant tuple size too)
@function("mortonDecode", args=(1, ...))
def morton_dec_fmt(a: Args) -> str:
    try:
        n = int(a[0].strip())
    except ValueError:
        raise UntranslatableFunctionError(
            "mortonDecode: the tuple size must be an integer "
            "literal"
        )
    if n < 1 or n > 8:
        raise UntranslatableFunctionError(
            "mortonDecode: tuple size must be 1..8"
        )
    code = f"CAST({a[1]} AS BIGINT)"
    if n == 1:
        return f"struct({code})"
    bits = 64 // n
    comps = ", ".join(
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + shiftleft("
        f"shiftright({code}, {n} * i + {j}) & 1, i))"
        for j in range(n)
    )
    return f"struct({comps})"

# 2-D Hilbert index via the lazily registered UDF (per-level
# state machine; doc value hilbertEncode(3, 4) = 31); 1-arg
# form is the identity, like CH
@function("hilbertEncode", args=(1, 2))
def hilbert_fmt(a: Args) -> str:
    if len(a) == 1:
        return f"CAST({a[0]} AS BIGINT)"
    return (
        f"ch_hilbert_encode2(CAST({a[0]} AS BIGINT), "
        f"CAST({a[1]} AS BIGINT))"
    )

@function("hilbertDecode", args=(2, ...))
def hilbert_dec_fmt(a: Args) -> str:
    try:
        n = int(a[0].strip())
    except ValueError:
        raise UntranslatableFunctionError(
            "hilbertDecode: the tuple size must be an integer "
            "literal"
        )
    code = f"CAST({a[1]} AS BIGINT)"
    if n == 1:
        return f"struct({code})"
    if n != 2:
        raise UntranslatableFunctionError(
            "hilbertDecode supports tuple sizes 1 and 2"
        )
    e = f"ch_hilbert_decode2({code})"
    return (
        f"struct(element_at({e}, 1), element_at({e}, 2))"
    )

# (longitude, latitude[, precision]); precision 0/absent -> 12
@function("geohashEncode", args=(2, 3))
def geohash_enc_fmt(a: Args) -> str:
    prec = a[2] if len(a) > 2 else "0"
    return (
        f"ch_geohash_encode(CAST({a[0]} AS DOUBLE), "
        f"CAST({a[1]} AS DOUBLE), CAST({prec} AS INT))"
    )

@function("geohashDecode", args=1)
def geohash_dec_fmt(a: Args) -> str:
    e = f"ch_geohash_decode({a[0]})"
    return f"struct(element_at({e}, 1), element_at({e}, 2))"
