"""The ClickHouse `url()` / `urlCluster()` table functions, Spark-first.

Reference surface: clickhouse-arrow passes `url('http://...', Format
[, 'structure'])` through to the server (table-functions/url.md); the
server fetches the endpoint on the initiator (url) or fans the brace
glob out across the cluster (urlCluster). Here:

- Brace globs (`{1..9}`, `{01..12}`, `{a,b,c}`) expand on the driver
  into a URL list — the unit of parallelism, exactly CH's urlCluster
  sharding unit.
- With an explicit column structure, every URL is fetched and parsed
  INSIDE an executor task (`mapInPandas` over one-URL partitions) —
  the 100 TB shape: N urls = N parallel streams, no driver byte ever
  holds row data.
- Without a structure, the single URL streams onto the driver's local
  disk (bounded-memory chunk copy) and goes through `spark.read` with
  schema inference — the convenience path, refused for multi-URL
  globs where inference would serialize the fan-out.

Formats are those of `formats.FORMATS`; the executor-side parse stays
in pandas because it runs inside `mapInPandas` tasks. gzip
Content-Encoding / .gz URLs decompress streaming.
"""

from __future__ import annotations

import io
import re
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from clickhouse_arrow_spark.formats import Format, lookup, read

_BRACE_RE = re.compile(r"\{([^{}]*)\}")
_RANGE_RE = re.compile(r"^(\d+)\.\.(\d+)$")


class UrlTvfError(ValueError):
    pass


def expand_url_globs(url: str, limit: int = 4096) -> list[str]:
    """Expand ClickHouse brace globs: `{N..M}` numeric ranges (leading
    zeros preserved) and `{a,b,c}` alternation; multiple groups take
    the cross product. Returns [url] when glob-free."""
    m = _BRACE_RE.search(url)
    if not m:
        return [url]
    body = m.group(1)
    rm = _RANGE_RE.match(body)
    if rm:
        lo, hi = rm.group(1), rm.group(2)
        width = len(lo) if lo.startswith("0") and len(lo) > 1 else 0
        if int(hi) < int(lo):
            raise UrlTvfError(f"url() glob {{{body}}}: empty range")
        parts = [
            str(i).zfill(width) for i in range(int(lo), int(hi) + 1)
        ]
    elif "," in body:
        parts = [p.strip() for p in body.split(",")]
    else:
        raise UrlTvfError(
            f"url() glob {{{body}}}: supported globs are {{N..M}} "
            "and {a,b,c}"
        )
    out: list[str] = []
    for p in parts:
        expanded = expand_url_globs(
            url[: m.start()] + p + url[m.end():], limit
        )
        out.extend(expanded)
        if len(out) > limit:
            raise UrlTvfError(
                f"url() glob expands past {limit} URLs — shard wider "
                "(one URL per executor task) or stage to object "
                "storage and use file()/s3()"
            )
    return out


def _fetch_stream(url: str, timeout: float = 60.0):
    """GET the URL, return a streaming file-like with gzip transport /
    .gz payload encoding transparently removed. stdlib-only so it runs
    inside executor workers with no extra deps."""
    import gzip
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, headers={"Accept-Encoding": "gzip"}
    )
    try:
        resp = urllib.request.urlopen(req, timeout=timeout)
    except urllib.error.HTTPError as e:
        body = e.read()[:200].decode("utf-8", "replace")
        raise UrlTvfError(f"url({url!r}): HTTP {e.code}: {body}") from None
    enc = (resp.headers.get("Content-Encoding") or "").lower()
    if enc == "gzip" or url.split("?")[0].endswith(".gz"):
        return gzip.GzipFile(fileobj=resp)
    return resp


def _copy_to_temp(stream) -> str:
    """Chunked copy (bounded memory) onto local disk; returns the path.
    Needed where the parser requires random access (Parquet/ORC footer
    reads) or where spark.read wants a path."""
    import shutil
    import tempfile

    f = tempfile.NamedTemporaryFile(
        prefix="cas_url_", suffix=".part", delete=False
    )
    with f:
        shutil.copyfileobj(stream, f, length=1 << 20)
    return f.name


def _parse_one(url: str, fmt: Format, colnames: list[str]):
    """Fetch + parse ONE url into a pandas DataFrame (runs inside an
    executor task on the distributed path). colnames orders/renames
    CSV/TSV columns."""
    import os

    import pandas as pd

    stream = _fetch_stream(url)
    try:
        if fmt.source in ("parquet", "orc"):
            # columnar footers need random access: spool to local disk
            path = _copy_to_temp(stream)
            try:
                if fmt.source == "parquet":
                    import pyarrow.parquet as pq

                    return pq.read_table(path).to_pandas()
                import pyarrow.orc as pa_orc

                return pa_orc.ORCFile(path).read().to_pandas()
            finally:
                os.unlink(path)
        data = stream.read()
        buf = io.BytesIO(data)
        if fmt.source == "json":
            return pd.read_json(buf, lines=True)
        header = 0 if fmt.header else None
        df = pd.read_csv(buf, sep=fmt.sep, header=header)
        if len(df.columns) != len(colnames):
            raise UrlTvfError(
                f"url({url!r}): structure names {len(colnames)} "
                f"columns, the payload has {len(df.columns)}"
            )
        df.columns = colnames
        return df
    finally:
        stream.close()


def read_urls(
    spark: SparkSession,
    urls: list[str],
    fmt: str,
    schema=None,
) -> DataFrame:
    """The distributed read: one executor task per URL. `schema` is a
    Spark StructType (required for >1 URL — the executor parser casts
    its pandas frame to it; inference would force a driver fetch)."""
    from pyspark.sql import types as T

    fmt = lookup(fmt, UrlTvfError)
    for u in urls:
        if not re.match(r"^https?://", u):
            raise UrlTvfError(
                f"url({u!r}): only http(s) endpoints; for files use "
                "file(), for object storage s3(), for another "
                "ClickHouse server the DSv2 connector"
            )
    if schema is None:
        if len(urls) > 1:
            raise UrlTvfError(
                "url() with a glob needs an explicit column structure "
                "('name Type, ...') — schema inference would fetch on "
                "the driver and serialize the fan-out"
            )
        # convenience path: stream to local disk, let spark.read infer
        return read(spark.read, fmt, _copy_to_temp(_fetch_stream(urls[0])))

    colnames = [f.name for f in schema.fields]
    url_df = spark.createDataFrame(
        [(u,) for u in urls], T.StructType(
            [T.StructField("__cas_url", T.StringType(), False)]
        )
    ).repartition(len(urls))

    def fetch(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            for u in pdf["__cas_url"]:
                parsed = _parse_one(u, fmt, colnames)
                missing = [c for c in colnames if c not in parsed.columns]
                if missing and (fmt.source != "csv" or fmt.header):
                    raise UrlTvfError(
                        f"url({u!r}): payload lacks columns {missing}"
                    )
                yield parsed[colnames] if not missing else parsed

    # the format parsers yield python/numpy objects; the declared
    # structure is authoritative — cast through Arrow on the way in
    return url_df.mapInPandas(fetch, schema=schema)


def serve_static(files: dict[str, bytes]):
    """Start a minimal static HTTP server on an ephemeral localhost
    port; returns (base_url, stop_fn). Exists so self-contained
    correctness gates (and tests) can exercise url() against real HTTP
    without external endpoints."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = files.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                self.wfile.write(b"not found")
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()

    def stop():
        server.shutdown()
        server.server_close()

    return f"http://127.0.0.1:{server.server_address[1]}", stop
