"""Export sinks (S7/S10) + debug-column gating (F9).

The reference's client writes per-document markdown + image files
(/root/reference/client/client.py:32-45, testScript.py:163-208) and its
experiments dump CSVs (blip_conditional_caption_e2e.py:249-252). Our
engine's exports are DataFrame writes:

- ``export_text``: url + extracted text (the markdown-file analog; one
  row per document instead of one file per document — at 10^12 docs a
  file-per-doc sink is an anti-pattern, a table IS the export).
- CSV variant quotes/escapes multiline text (S10, diagnostics only).
- ``debug=True`` adds the extraction diagnostics columns — the analog of
  the reference's visualize flag gating debug images (model.py:395,
  :515-535 — F9): unused columns never reach the scan when the flag is
  off (column pruning does the gating for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_DEBUG_COLS = ["n_blocks_kept", "n_blocks_dropped", "parse_ok", "branch", "error"]


def select_export(extracted: DataFrame, debug: bool = False) -> DataFrame:
    """The export projection. With ``debug=False`` only (url, text)
    survive — Catalyst prunes every other column out of the scan."""
    cols = ["url", "text"] + (_DEBUG_COLS if debug else [])
    have = set(extracted.columns)
    return extracted.select(*[c for c in cols if c in have])


def export_text(
    extracted: DataFrame,
    path: str,
    fmt: str = "parquet",
    debug: bool = False,
) -> None:
    """Write the export. ``fmt``: parquet (default) | csv (S10 —
    multiline text quoted+escaped) | json."""
    out = select_export(extracted, debug=debug)
    w = out.write.mode("overwrite")
    if fmt == "csv":
        (
            w.option("header", True)
            .option("quoteAll", True)
            .option("escape", '"')
            # the writer TRIMS field whitespace by default — extracted
            # text is byte-exact content, never trim it
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(path)
        )
    elif fmt == "json":
        w.json(path)
    else:
        w.parquet(path)


WET_MANIFEST_SCHEMA = "file string, n_records long, n_bytes long"


def export_wet(
    extracted: DataFrame,
    out_dir: str,
    software: str = "paddle_spark",
) -> DataFrame:
    """WET sink: write the extracted corpus as Common-Crawl-style WET
    archives (WARC/1.0 ``conversion`` records, one gzip member per
    record, one ``part-N.warc.wet.gz`` file per partition) — the
    interchange format the ingest side (sources/warc.py) already
    streams, so a written corpus round-trips through our own reader
    byte-for-byte (pinned by test_export_fetch).

    Returns a lazy manifest DataFrame (file, n_records, n_bytes); the
    caller triggers the write by acting on it. Each task writes only
    its own partition's file into ``out_dir`` (shared filesystem on a
    real cluster, same contract as every Spark file sink); record IDs
    are deterministic (sha256 of url + date), so reruns produce
    identical archives.
    """
    import gzip
    import hashlib
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    src = extracted.select(
        "url",
        F.date_format(
            F.coalesce(F.col("warc_ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("wdate"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.spark_partition_id().alias("pid"),
    )

    def _record(headers: list[tuple[str, str]], body: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode("utf-8") for k, v in headers
        )
        return head + b"\r\n" + body + b"\r\n\r\n"

    def write_parts(batches):
        # one open file per partition; batches of one partition arrive
        # in one task, so state here is a single file handle
        fh = None
        fname = None
        n_rec = 0
        for pdf in batches:
            for url, wdate, text in zip(pdf["url"], pdf["wdate"], pdf["text"]):
                if fh is None:
                    pid = int(pdf["pid"].iloc[0])
                    fname = os.path.join(out_dir, f"part-{pid:05d}.warc.wet.gz")
                    os.makedirs(out_dir, exist_ok=True)
                    fh = open(fname, "wb")
                    info = _record(
                        [
                            ("WARC-Type", "warcinfo"),
                            ("WARC-Date", str(wdate)),
                            ("Content-Type", "application/warc-fields"),
                            ("Content-Length", str(len(software) + 10)),
                        ],
                        f"software: {software}".encode("utf-8"),
                    )
                    fh.write(gzip.compress(info, mtime=0))
                body = str(text).encode("utf-8")
                rid = hashlib.sha256(f"{url}\x00{wdate}".encode()).hexdigest()
                rec = _record(
                    [
                        ("WARC-Type", "conversion"),
                        ("WARC-Target-URI", str(url)),
                        ("WARC-Date", str(wdate)),
                        ("WARC-Record-ID", f"<urn:sha256:{rid}>"),
                        ("Content-Type", "text/plain"),
                        ("Content-Length", str(len(body))),
                    ],
                    body,
                )
                fh.write(gzip.compress(rec, mtime=0))
                n_rec += 1
        if fh is not None:
            fh.close()
            yield pd.DataFrame(
                [(fname, n_rec, os.path.getsize(fname))],
                columns=["file", "n_records", "n_bytes"],
            )

    return src.mapInPandas(write_parts, schema=WET_MANIFEST_SCHEMA)


def cdx_index(extracted: DataFrame) -> DataFrame:
    """CDX(J)-style index rows over the extracted corpus — the lookup
    artifact that makes a web archive addressable: per document the SURT
    sort key, a 14-digit capture timestamp, the original url, a content
    digest and the text length. All pure Column ops (surt/date_format/
    xxhash64/octet_length); rows whose url has no SURT form (non-http)
    are dropped, matching CDX semantics.
    """
    from pyspark.sql import functions as F

    from paddle_spark.functions import surt_key_col

    return (
        extracted.select(
            surt_key_col(F.col("url")).alias("surt"),
            F.date_format(
                F.coalesce(
                    F.col("warc_ts"),
                    F.lit("2024-01-01 00:00:00").cast("timestamp"),
                ),
                "yyyyMMddHHmmss",
            ).alias("ts14"),
            "url",
            F.conv(
                F.xxhash64(F.coalesce(F.col("text"), F.lit(""))).cast("string"),
                10,
                16,
            ).alias("digest"),
            F.octet_length(F.coalesce(F.col("text"), F.lit(""))).alias("n_bytes"),
        )
        .where(F.col("surt").isNotNull())
    )


def write_cdx(index: DataFrame, out_dir: str, n_shards: int = 16) -> int:
    """Write a GLOBALLY SORTED sharded CDX index: range-partition by
    (surt, ts14) then sort within each shard — total order across files
    without a single-reducer sort (the shards and the keys inside each
    are both ascending, so `cat part-*` is sorted and a reader can
    binary-search file boundaries first, then within one file). That is
    exactly how a 10^12-row index must be produced: the range
    partitioner samples key quantiles, every shard sorts independently,
    no stage ever sees more than 1/n_shards of the data.

    Lines are space-separated ``surt ts14 url digest n_bytes`` (the
    classic CDX text layout; a JSON payload variant is one concat away).

    Returns the number of lines written, observed on the final projection
    (the write's result stage, whose tasks count once); below the range
    exchange its sampling pass would count every row twice.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    lines = Observation("cdx")
    (
        index.repartitionByRange(n_shards, "surt", "ts14")
        .sortWithinPartitions("surt", "ts14")
        .select(
            F.concat_ws(
                " ", "surt", "ts14", "url", "digest",
                F.col("n_bytes").cast("string"),
            ).alias("value")
        )
        .observe(lines, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .text(out_dir)
    )
    return lines.get["n"]


def read_cdx_prefix(spark, cdx_dir: str, surt_prefix: str) -> DataFrame:
    """Prefix lookup against a ``write_cdx`` index WITHOUT scanning it:
    because shards are range-partitioned and internally sorted, each
    part file's [first-line key, last-line key] interval bounds its
    contents — so we read just the head and tail of every shard (O(n_
    shards) metadata probes, driver-side, no Spark job) and scan ONLY
    the shards whose interval intersects the prefix range. A 4096-shard
    10^12-row index answers a domain lookup by touching the 1-2 shards
    that can contain it; the returned DataFrame is the parsed CDX rows
    matching the prefix.

    This is the read-side contract the CDX format exists for (web-archive
    players binary-search the same way); the pruning is provably safe:
    a key k matches iff surt_prefix <= k < surt_prefix+chr(0x10FFFF),
    and shard intervals tile the key space in file order.
    """
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    hi = surt_prefix + "\U0010ffff"

    def _first_last(path: str) -> tuple[str, str] | None:
        size = _os.path.getsize(path)
        if size == 0:
            return None
        with open(path, "rb") as fh:
            first = fh.readline().split(b" ", 1)[0].decode("utf-8")
            tail_len = min(size, 1 << 16)
            fh.seek(size - tail_len)
            tail = fh.read().rstrip(b"\n")
            last = tail[tail.rfind(b"\n") + 1 :].split(b" ", 1)[0].decode("utf-8")
        return first, last

    keep = []
    for p in sorted(_glob.glob(_os.path.join(cdx_dir, "part-*"))):
        fl = _first_last(p)
        if fl and fl[0] <= hi and fl[1] >= surt_prefix:
            keep.append(p)
    if not keep:
        return spark.createDataFrame(
            [], "surt string, ts14 string, url string, digest string, n_bytes int"
        )
    parts = F.split(F.col("value"), " ", 5)
    return (
        spark.read.text(keep)
        .select(
            parts.getItem(0).alias("surt"),
            parts.getItem(1).alias("ts14"),
            parts.getItem(2).alias("url"),
            parts.getItem(3).alias("digest"),
            parts.getItem(4).cast("int").alias("n_bytes"),
        )
        .where(F.col("surt").startswith(surt_prefix))
    )
