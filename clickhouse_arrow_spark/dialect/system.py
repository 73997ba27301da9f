"""Server and session introspection, ID generators and other
functions with no data argument."""

from .registry import Args, UntranslatableFunctionError, function, refuse


# the one logical cluster (SHOW CLUSTERS): Spark owns physical
# distribution below the SQL surface
function("shardNum", "shardCount", args=0)(lambda a: "1")
# no ACL layer (GRANT/SHOW ROLES are documented no-ops/empties)
function("currentProfiles", "enabledProfiles", "defaultProfiles",
         "currentRoles", "enabledRoles", "defaultRoles", args=0)(
    lambda a: "CAST(array() AS ARRAY<STRING>)")
import platform

function("getOSKernelVersion", args=0)(lambda a: (
    f"'{platform.system()} {platform.release()}'"
))
# single-session engine: one logical connection
function("connectionId", args=0)(lambda a: "CAST(0 AS BIGINT)")
# CH wire-protocol revision constant; no analogue — a stable
# literal keeps monitoring SELECTs running
function("revision", args=0)(lambda a: "CAST(54500 AS INT)")

# 26-char Crockford base32: 10 chars of unix-ms + 16 random
# chars (two 40-bit draws); conv() emits base32hex digits,
# translate() maps them onto the Crockford alphabet
@function("generateULID", args=(0, 1))
def ulid_fmt(a: Args) -> str:
    def crock(expr: str, width: int) -> str:
        return (
            f"translate(lpad(upper(conv({expr}, 10, 32)), "
            f"{width}, '0'), "
            f"'0123456789ABCDEFGHIJKLMNOPQRSTUV', "
            f"'0123456789ABCDEFGHJKMNPQRSTVWXYZ')"
        )

    ms = crock("unix_millis(current_timestamp())", 10)
    r1 = crock("CAST(rand() * 1099511627776 AS BIGINT)", 8)
    r2 = crock("CAST(rand() * 1099511627776 AS BIGINT)", 8)
    return f"concat({ms}, {r1}, {r2})"

function("uptime", args=(0, ...))(refuse(
    "uptime() (server uptime) has no JVM-expression analogue; "
    "read spark.sparkContext.startTime from the driver"
))
# the JVM's own hostname, derived without a UDF; CH returns the
# server's — a local engine IS its own server. FQDN: the JVM's
# getLocalHost already resolves the canonical name where the
# resolver provides one
function("hostName", "FQDN", "displayName", args=0)(lambda a: (
    "substring_index(java_method('java.net.InetAddress', "
    "'getLocalHost'), '/', 1)"
))
# literals -> placeholders (CH query fingerprinting, simplified:
# quoted strings then bare numbers)
function("normalizeQuery", "normalizeQueryKeepNames", args=1)(
    lambda a: "regexp_replace(regexp_replace("
    f"{a[0]}, '\\'[^\\']*\\'', '?'), "
    "'(?<![a-zA-Z_0-9])[0-9]+(\\\\.[0-9]+)?', '?')"
)
# 0-based, order as arbitrary as CH's block order
function("rowNumberInAllBlocks", args=0)(
    lambda a: "(row_number() OVER (ORDER BY 1) - 1)")

# Iceberg truncate transform: ints floor to width multiples
# (sign-correct via pmod), strings truncate to W chars. A
# quoted literal gets the string form directly; otherwise the
# type is unknowable from text, so the expression carries BOTH
# branches and returns a STRING partition label (numeric-looking
# strings in string columns take the numeric branch — the
# documented carrier edge; partition labels, not quantities).
@function("icebergTruncate", args=2)
def iceberg_truncate(a: Args) -> str:
    w, v = a[0], a[1]
    if v.lstrip().startswith("'"):
        return f"substring({v}, 1, CAST({w} AS INT))"
    return (
        f"coalesce(CAST(try_cast({v} AS BIGINT) - "
        f"pmod(try_cast({v} AS BIGINT), CAST({w} AS BIGINT)) "
        f"AS STRING), "
        f"substring(CAST({v} AS STRING), 1, CAST({w} AS INT)))"
    )

# everything after the last '/' or '\\' (CH semantics)
function("basename", args=1)(
    lambda a: f"regexp_extract({a[0]}, '[^/\\\\\\\\]*$', 0)")
# postgres-compat shim: the single current database
function("currentSchemas", args=1)(lambda a: "array(current_database())")
# the engine's HTTP endpoint (sources/http_transport) is the
# 8123-compatible surface
function("httpPort", args=0)(lambda a: "CAST(8123 AS INT)")

@function("getServerPort", args=(1, ...))
def server_port(a: Args) -> str:
    arg = a[0].strip().strip("'\"")
    if arg == "http_port":
        return "CAST(8123 AS INT)"
    raise UntranslatableFunctionError(
        f"getServerPort({a[0]}): only 'http_port' (8123) exists "
        "here — the native TCP endpoint is a permanent guided "
        "refusal (HTTP/8123 is the wire surface)"
    )

function("tcpPort", args=(0, ...))(refuse(
    "tcpPort(): no native TCP endpoint — the engine serves the "
    "CH-HTTP surface on 8123 (httpPort())"
))
# RFC 9562 v7 layout: 48-bit unix ms, version nibble 7, 12
# random bits, variant in 89ab, 62 random tail bits — built from
# unix_millis + md5(rand()) hex; time-ordered like CH's
function("generateUUIDv7", args=(0, 1))(lambda a: (
    "concat(substring(_uuid7_hex, 1, 8), '-', "
    "substring(_uuid7_hex, 9, 4), '-7', "
    "substring(_uuid7_rand, 1, 3), '-', "
    "substring('89ab', pmod(ascii(substring(_uuid7_rand, 4, 1)), 4)"
    " + 1, 1), substring(_uuid7_rand, 5, 3), '-', "
    "substring(_uuid7_rand, 8, 12))"
    .replace(
        "_uuid7_hex",
        "lpad(lower(hex(unix_millis(current_timestamp()))), 12, '0')",
    )
    .replace("_uuid7_rand", "md5(cast(rand() AS STRING))")
))
