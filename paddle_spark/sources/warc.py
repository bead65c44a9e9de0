"""WARC ingestion: Common Crawl's native container format -> pages rows.

The input table (url, warc_ts, html, text, lang) is Common-Crawl-shaped
(SURVEY §1.2); this source produces it straight from WARC files — the
actual distribution format of Common Crawl — with nothing but the stdlib:

- WARC/1.0+ records (warcinfo/request/response/...), header block +
  ``Content-Length``-delimited payload, CRLF framing (ISO 28500).
- ``.warc.gz`` per-record gzip members (the CC layout: each record its
  own member, so any byte range is independently decompressible) via
  ``zlib`` streaming with multi-member restart.
- response records carry an HTTP/1.1 envelope; we split status+headers
  from the body, undo ``Transfer-Encoding: chunked`` framing (RFC 9112
  §7.1 hex-length frames — common in real CC response records) and
  ``Content-Encoding: gzip/deflate``, yielding the page bytes that feed
  extraction.

Scale shape: one WARC file is one task unit, and the Spark entry point
is ``warc_paths_to_pages`` — a path-per-row ``mapInPandas`` fan-out
(UDTF-style, U5) where each worker opens its own ~1 GB archive and
streams it, so file bytes never ride through a shuffle row.
"""

from __future__ import annotations

import io
import zlib
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress all gzip members (CC stores one record per member)."""
    out = []
    d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
    buf = data
    while buf:
        out.append(d.decompress(buf))
        if d.eof:
            buf = d.unused_data.lstrip(b"\x00")
            d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        else:
            break
    return b"".join(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # first line = version / status
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                "latin-1"
            )
    return headers


def _warc_ts(value: str | None):
    if not value:
        return None
    try:
        return (
            datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ")
            .replace(tzinfo=timezone.utc)
            .replace(tzinfo=None)
        )
    except ValueError:
        return None


def _iter_records_stream(stream):
    """Yield (headers: dict, payload: bytes) per WARC record from a
    binary stream, reading one record at a time (bounded memory). Total
    over malformed input — stops at the first unparseable boundary
    instead of raising (partial files happen in the wild)."""
    while True:
        # skip inter-record CRLFs
        line = stream.readline()
        while line in (b"\r\n", b"\n"):
            line = stream.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            return  # lost framing: stop, don't guess
        header_lines = [line]
        while True:
            line = stream.readline()
            if not line:
                return
            if line in (b"\r\n", b"\n"):
                break
            header_lines.append(line)
        headers = _parse_headers(b"".join(header_lines))
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        payload = stream.read(length)
        if len(payload) < length:
            return  # truncated file: drop the partial record
        yield headers, payload


def iter_warc_records(data: bytes):
    """Bytes-API record iterator (test-scale; decompresses up front)."""
    if data[:2] == b"\x1f\x8b":
        try:
            data = _gunzip_members(data)
        except zlib.error:
            return
    yield from _iter_records_stream(io.BytesIO(data))


def iter_warc_records_path(path: str):
    """STREAMING record iterator over a file path: .warc.gz goes through
    gzip.GzipFile (multi-member transparent), so only one record's bytes
    are resident at a time — the production shape for ~1 GB CC archives."""
    import gzip

    with open(path, "rb") as f:
        if f.read(2) == b"\x1f\x8b":
            f.seek(0)
            yield from _iter_records_stream(
                io.BufferedReader(gzip.GzipFile(fileobj=f))
            )
        else:
            f.seek(0)
            yield from _iter_records_stream(f)


def _dechunk(body: bytes) -> bytes:
    """Undo HTTP/1.1 chunked transfer framing (RFC 9112 §7.1):
    ``hex-size[;ext]CRLF chunk-data CRLF ... 0 CRLF [trailers]``.
    Total over malformed input — yields what decoded cleanly before
    framing was lost (truncated records happen in real crawls)."""
    out = []
    pos, n = 0, len(body)
    while pos < n:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            break
        try:
            size = int(body[pos:eol].split(b";", 1)[0].strip() or b"x", 16)
        except ValueError:
            break
        if size == 0:
            break  # last-chunk; trailers ignored
        pos = eol + 2
        chunk = body[pos : pos + size]
        out.append(chunk)
        if len(chunk) < size:
            break  # truncated
        pos += size + 2  # skip the chunk-data CRLF
    return b"".join(out)


def _http_body(payload: bytes) -> bytes:
    """Page bytes from an HTTP/1.1 response payload: split the envelope,
    undo chunked transfer framing, then undo gzip/deflate content
    encoding. Each layer degrades to pass-through on malformed input."""
    if payload[:5] != b"HTTP/":
        return payload
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return payload
    headers = _parse_headers(payload[:sep])
    body = payload[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    enc = headers.get("content-encoding", "").lower().strip()
    if enc in ("gzip", "x-gzip"):
        try:
            body = _gunzip_members(body)
        except zlib.error:
            pass
    elif enc == "deflate":
        try:  # RFC says zlib-wrapped; the wild also ships raw deflate
            body = zlib.decompress(body)
        except zlib.error:
            try:
                body = zlib.decompress(body, wbits=-zlib.MAX_WBITS)
            except zlib.error:
                pass
    return body


def _record_to_row(headers: dict, payload: bytes):
    """One WARC record -> a pages row, or None for non-page records.
    ``response`` records (raw page behind an HTTP envelope) fill
    ``html``; ``conversion`` records (WET: Common Crawl's pre-extracted
    UTF-8 text) fill ``text`` instead — the same table shape serves both
    distribution formats."""
    wtype = headers.get("warc-type")
    url = headers.get("warc-target-uri")
    ts = _warc_ts(headers.get("warc-date"))
    if wtype == "response":
        return (url, ts, _http_body(payload), None, None)
    if wtype == "conversion":  # WET text record
        return (url, ts, None, payload.decode("utf-8", errors="replace"), None)
    return None


def warc_records_to_rows(data: bytes) -> list[tuple]:
    """(url, warc_ts, html, text, lang) rows from one WARC/WET file's
    bytes (test-scale API; the streaming path is iter_warc_records_path)."""
    rows = []
    for headers, payload in iter_warc_records(data):
        row = _record_to_row(headers, payload)
        if row is not None:
            rows.append(row)
    return rows


def warc_paths_to_pages(
    spark: SparkSession, paths: list[str], rows_per_batch: int = 2048
) -> DataFrame:
    """WARC/WET files -> pages, one path per row: each worker STREAMS its
    archive (gzip member by member, one record resident at a time) and
    emits page rows in bounded ``rows_per_batch`` chunks — peak memory per
    task is one record plus one output batch, never the 1 GB archive or
    its multi-GB decompressed form."""
    src = spark.createDataFrame([(p,) for p in paths], "path string")
    cols = ["url", "warc_ts", "html", "text", "lang"]

    def fan_out(batches):
        for pdf in batches:
            for p in pdf["path"]:
                rows: list[tuple] = []
                try:
                    for headers, payload in iter_warc_records_path(p):
                        row = _record_to_row(headers, payload)
                        if row is not None:
                            rows.append(row)
                        if len(rows) >= rows_per_batch:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                except Exception:  # per-file isolation: keep prior chunks
                    pass
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return src.repartition(max(len(paths), 1)).mapInPandas(
        fan_out, schema=PAGES_SCHEMA
    )
