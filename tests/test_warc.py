"""WARC ingestion (sources/warc.py): Common Crawl's container format ->
pages rows -> the standard extraction pipeline, pure stdlib."""

import datetime as dt
import glob

from pyspark.sql import functions as F

from paddle_spark.sources.synth import gen_page_row, make_warc
from paddle_spark.sources.warc import (
    iter_warc_records,
    warc_paths_to_pages,
    warc_records_to_rows,
)


def _records(n=20, seed=42):
    recs = []
    for i in range(n):
        url, ts, payload, _, _ = gen_page_row(i, seed)
        recs.append((url, ts.strftime("%Y-%m-%dT%H:%M:%SZ"), payload))
    return recs


def test_roundtrip_plain_and_gz():
    recs = _records(20)
    for gz in (False, True):
        rows = warc_records_to_rows(make_warc(recs, gz=gz))
        assert len(rows) == 20
        for (url, ts, payload), (gurl, gts, ghtml, _, _) in zip(recs, rows):
            assert gurl == url
            assert gts == dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
            assert ghtml == payload, url  # HTTP envelope stripped exactly


def test_chunked_and_content_encoded_bodies():
    """Transfer-Encoding: chunked and Content-Encoding: gzip/deflate
    envelopes must yield byte-identical html to the identity-encoded
    twin (real CC response records carry both)."""
    recs = _records(12)
    plain = warc_records_to_rows(make_warc(recs))
    for kw in (
        dict(chunked=True),
        dict(content_gzip=True),
        dict(chunked=True, content_gzip=True),
        dict(chunked=True, chunk_size=1),  # 1-byte frames: worst framing
    ):
        rows = warc_records_to_rows(make_warc(recs, **kw))
        assert len(rows) == len(plain)
        for (u1, _, h1, _, _), (u2, _, h2, _, _) in zip(plain, rows):
            assert u1 == u2 and h1 == h2, (kw, u1)


def test_chunked_malformed_degrades():
    from paddle_spark.sources.warc import _dechunk

    assert _dechunk(b"") == b""
    assert _dechunk(b"zz\r\nabc") == b""           # bad hex size
    assert _dechunk(b"5\r\nhello\r\n0\r\n\r\n") == b"hello"
    assert _dechunk(b"5\r\nhel") == b"hel"          # truncated chunk
    assert _dechunk(b"5;a=b\r\nhello\r\nQQ") == b"hello"  # lost framing after


def test_deflate_content_encoding():
    import zlib

    body = b"<html><body><p>deflated page</p></body></html>"
    for wire in (zlib.compress(body), zlib.compress(body)[2:-4]):  # zlib + raw
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n"
            b"Content-Length: " + str(len(wire)).encode() + b"\r\n\r\n" + wire
        )
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://ex.org/d\r\n"
            b"WARC-Date: 2020-01-02T03:04:05Z\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n"
        )
        rows = warc_records_to_rows(rec)
        assert len(rows) == 1 and rows[0][2] == body


def test_non_response_records_skipped():
    data = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
        + make_warc(_records(3))
    )
    assert len(warc_records_to_rows(data)) == 3


def test_truncated_file_degrades():
    data = make_warc(_records(5))
    rows_full = warc_records_to_rows(data)
    rows_cut = warc_records_to_rows(data[: len(data) - len(data) // 3])
    assert 0 < len(rows_cut) < len(rows_full)
    # garbage never raises
    assert warc_records_to_rows(b"\x1f\x8bnot actually gzip") == []
    assert warc_records_to_rows(b"random bytes") == []
    assert list(iter_warc_records(b"")) == []


def test_spark_warc_to_extraction(spark, tmp_path):
    """End-to-end: .warc.gz files -> pages frame -> extract_pages; digests
    byte-identical to extracting the same payloads directly."""
    from paddle_spark.kernels.extract import extract_document
    from paddle_spark.operators.extract_job import extract_pages

    recs = _records(40)
    p1 = tmp_path / "a.warc.gz"
    p2 = tmp_path / "b.warc"
    p1.write_bytes(make_warc(recs[:25], gz=True))
    p2.write_bytes(make_warc(recs[25:]))

    pages = warc_paths_to_pages(spark, sorted(glob.glob(str(tmp_path / "*.warc*"))))
    assert pages.count() == 40
    out = {r["url"]: r["text_sha256"]
           for r in extract_pages(pages, n_partitions=2).collect()}
    for url, _, payload in recs:
        assert out[url] == extract_document(payload).text_sha256, url
    assert pages.filter(F.col("html").isNull()).count() == 0


def test_warc_parser_fuzz_never_raises():
    """Byte-level mutations of valid archives (plain and gz) must never
    raise — framing loss degrades to fewer rows, not errors."""
    import random

    rng = random.Random(99)
    for gz in (False, True):
        base = make_warc(_records(6), gz=gz)
        for _ in range(150):
            b = bytearray(base)
            for _ in range(rng.randint(1, 12)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            rows = warc_records_to_rows(bytes(b))
            assert isinstance(rows, list) and len(rows) <= 6


def test_wet_conversion_records():
    """WET files (Common Crawl's pre-extracted text) are WARC conversion
    records: text fills the `text` column, html stays null."""
    body = "Extracted plain text.\nSecond line é.".encode("utf-8")
    wet = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"WARC-Target-URI: https://ex.org/p\r\n"
        b"WARC-Date: 2020-01-02T03:04:05Z\r\n"
        b"Content-Type: text/plain\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    rows = warc_records_to_rows(wet)
    assert len(rows) == 1
    url, ts, html, text, lang = rows[0]
    assert url == "https://ex.org/p" and html is None
    assert text == "Extracted plain text.\nSecond line é."
    # mixed file: response + conversion both land with the right columns
    mixed = make_warc(_records(2)) + wet
    rows = warc_records_to_rows(mixed)
    assert len(rows) == 3
    assert sum(1 for r in rows if r[2] is not None) == 2
    assert sum(1 for r in rows if r[3] is not None) == 1


def test_wet_rows_flow_through_extract_pages(spark, tmp_path):
    """WET conversion records (pre-extracted text, html null) pass
    through extraction verbatim as branch='wet' rows — a .wet.gz fed to
    jobs/extract.py --input-warc must not yield an empty corpus."""
    from paddle_spark.kernels.extract import sha256_text
    from paddle_spark.operators.extract_job import extract_pages

    texts = {f"https://ex.org/w{i}": f"Pre-extracted text {i}.\nLine two é {i}."
             for i in range(12)}
    wet = b""
    for url, text in texts.items():
        body = text.encode("utf-8")
        wet += (
            b"WARC/1.0\r\nWARC-Type: conversion\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"WARC-Date: 2020-01-02T03:04:05Z\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
            + body + b"\r\n\r\n"
        )
    p = tmp_path / "x.wet.gz"
    import gzip
    p.write_bytes(gzip.compress(wet))
    from paddle_spark.operators.extract_job import with_config

    pages = warc_paths_to_pages(spark, [str(p)])
    cfg = with_config(wet_passthrough=True)
    out = {r["url"]: r for r in extract_pages(pages, cfg, n_partitions=2).collect()}
    assert len(out) == 12
    for url, text in texts.items():
        r = out[url]
        assert r["parse_ok"] and r["branch"] == "wet"
        assert r["text"] == text
        assert r["text_sha256"] == sha256_text(text)
        assert r["payload_xxh"] is not None


def test_streaming_path_iterator_matches_bytes_api(tmp_path):
    """iter_warc_records_path (streaming, gzip member-by-member) yields
    exactly the rows of the in-memory API, and chunked fan-out batches
    cover every record."""
    from paddle_spark.sources.warc import _record_to_row, iter_warc_records_path

    recs = _records(30)
    p1 = tmp_path / "s.warc.gz"
    p1.write_bytes(make_warc(recs, gz=True))
    via_stream = [
        _record_to_row(h, pl) for h, pl in iter_warc_records_path(str(p1))
    ]
    via_bytes = warc_records_to_rows(p1.read_bytes())
    assert via_stream == via_bytes and len(via_stream) == 30


def test_paths_variant_chunks_output(spark, tmp_path):
    """rows_per_batch bounds each yielded Arrow batch without losing rows."""
    recs = _records(25)
    p = tmp_path / "c.warc"
    p.write_bytes(make_warc(recs))
    df = warc_paths_to_pages(spark, [str(p)], rows_per_batch=7)
    assert df.count() == 25
    assert df.select("url").distinct().count() == 25
