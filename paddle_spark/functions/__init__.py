"""Reusable Column-expression helpers (JVM-side, codegen'd).

Everything here stays inside whole-stage codegen — these are the
DataFrame-level re-expressions of the reference's scalar/string/geometry
helpers (SURVEY.md §2.7), used by the ``queries()`` driver contract and by
enrichment stages. The per-document kernels live in
``paddle_spark.kernels`` instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from paddle_spark.kernels.classify import (
    BMP_DIB_SIZES,
    IMAGE_MAGICS,
    PDF_MAGIC,
)


def payload_kind_col(html: Column) -> Column:
    """Magic-byte payload classifier as a pure Column expression (S2).

    Mirrors kernels.classify.classify_payload; usable for partition
    pruning / branch statistics without entering Python.
    """
    is_pdf = F.substring(html, 1, 4) == F.lit(PDF_MAGIC)
    img = F.lit(False)
    for magic in IMAGE_MAGICS:
        img = img | (F.substring(html, 1, len(magic)) == F.lit(magic))
    # BMP: compound check mirroring the kernel ('BM' + known DIB header
    # size at 1-indexed offset 15) — the NUL bytes in the size field keep
    # ASCII text from ever matching
    is_bmp = F.substring(html, 1, 2) == F.lit(b"BM")
    dib = F.lit(False)
    for size in BMP_DIB_SIZES:
        dib = dib | (F.substring(html, 15, 4) == F.lit(size))
    img = img | (is_bmp & dib)
    # RIFF containers split on the form type at bytes 9..12 (1-indexed)
    is_riff = F.substring(html, 1, 4) == F.lit(b"RIFF")
    riff_form = F.substring(html, 9, 4)
    # HTML: first non-whitespace byte is '<' (checked on a decoded prefix).
    # ltrim strips only spaces; the kernel's bytes.lstrip() strips all ASCII
    # whitespace (\t \n \r \x0b \x0c), so trim with a regex for parity.
    # Decode as ISO-8859-1, NOT UTF-8: latin-1 maps every byte 1:1 so the
    # '<' check is unchanged, while UTF-8 decode RAISES under ANSI mode on
    # arbitrary binary garbage (e.g. an 0xFF prefix) — a whole-job failure
    # from one soup payload. Java's default \s is ASCII-only, matching
    # bytes.lstrip() (neither strips \xa0).
    prefix = F.regexp_replace(
        F.decode(F.substring(html, 1, 256), "ISO-8859-1"), r"^[\s\x0b]+", ""
    )
    is_html = F.substring(prefix, 1, 1) == F.lit("<")
    return (
        F.when(is_pdf, F.lit("pdf"))
        .when(img, F.lit("image"))
        .when(is_riff & (riff_form == F.lit(b"WEBP")), F.lit("image"))
        .when(is_riff & (riff_form == F.lit(b"WAVE")), F.lit("audio"))
        .when(is_riff & (riff_form == F.lit(b"AVI ")), F.lit("video"))
        .when(is_riff, F.lit("garbage"))
        .when(F.substring(html, 1, 4) == F.lit(b".snd"), F.lit("audio"))
        .when(F.substring(html, 1, 3) == F.lit(b"ID3"), F.lit("audio"))
        .when(F.substring(html, 1, 4) == F.lit(b"OggS"), F.lit("audio"))
        .when(F.substring(html, 1, 4) == F.lit(b"fLaC"), F.lit("audio"))
        .when(F.substring(html, 5, 4) == F.lit(b"ftyp"), F.lit("video"))
        .when(
            F.substring(html, 1, 4) == F.lit(b"\x1a\x45\xdf\xa3"),
            F.lit("video"),  # EBML: Matroska/WebM
        )
        .when(
            (F.substring(html, 1, 4) == F.lit(b"FORM"))
            & riff_form.isin([F.lit(b"AIFF"), F.lit(b"AIFC")]),
            F.lit("audio"),
        )
        .when(F.substring(html, 1, 4) == F.lit(b"FORM"), F.lit("garbage"))
        .when(is_html, F.lit("html"))
        .otherwise(F.lit("garbage"))
    )


def bbox_key_col(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Rounded "x1_y1_x2_y2" join key (X3 parity, bbox_text_matcher.py:28-37).

    Note: Spark's ``round`` is HALF_UP while the reference uses Python's
    banker's rounding; on the .5 boundary they differ. ``F.rint`` matches
    banker's (HALF_EVEN) and is what we use.
    """
    def r(c: Column) -> Column:
        return F.rint(c).cast("long").cast("string")

    return F.concat_ws("_", r(x1), r(y1), r(x2), r(y2))


def bbox_key_from_filename(name: Column) -> Column:
    """Parse the last 4 integers out of an image filename into a bbox key
    (X2 parity: ``img_in_image_box_(\\d+)_(\\d+)_(\\d+)_(\\d+)`` and the
    generic 'last 4 numbers' rule, bbox_text_matcher.py:10-26)."""
    nums = F.regexp_extract_all(name, F.lit(r"(\d+)"), 1)
    n = F.size(nums)
    return F.when(
        n >= 4,
        F.concat_ws(
            "_",
            F.element_at(nums, n - 3),
            F.element_at(nums, n - 2),
            F.element_at(nums, n - 1),
            F.element_at(nums, n),
        ),
    ).otherwise(F.lit(None))


def html_strip_chain(col: Column) -> Column:
    """The reference's HTML clean chain as Column ops (X4 exact parity,
    bbox_text_matcher.py:127-146): drop <div><img></div> wrappers
    (IGNORECASE|DOTALL), drop <img> (IGNORECASE), drop all tags, collapse
    whitespace, trim. Replacements are empty strings, matching the
    reference — so 'a<img>b' -> 'ab', not 'a b'."""
    c = F.regexp_replace(col, r"(?is)<div[^>]*>\s*<img[^>]*>\s*</div>", "")
    c = F.regexp_replace(c, r"(?i)<img[^>]*>", "")
    c = F.regexp_replace(c, r"<[^>]+>", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def boxes_overlap_cond(a: str, b: str, margin_ratio: float = 0.1) -> Column:
    """'overlap or nearby' theta-join predicate between two box relations
    aliased ``a`` and ``b`` (J3 parity, bbox_text_matcher.py:40-68)."""
    mx = F.greatest(
        F.col(f"{a}.x2") - F.col(f"{a}.x1"), F.col(f"{b}.x2") - F.col(f"{b}.x1")
    ) * F.lit(margin_ratio)
    my = F.greatest(
        F.col(f"{a}.y2") - F.col(f"{a}.y1"), F.col(f"{b}.y2") - F.col(f"{b}.y1")
    ) * F.lit(margin_ratio)
    return ~(
        (F.col(f"{a}.x2") + mx < F.col(f"{b}.x1"))
        | (F.col(f"{a}.x1") - mx > F.col(f"{b}.x2"))
        | (F.col(f"{a}.y2") + my < F.col(f"{b}.y1"))
        | (F.col(f"{a}.y1") - my > F.col(f"{b}.y2"))
    )


def above_cond(txt: str, img: str, max_distance: float = 100.0) -> Column:
    """'text directly above image' theta-join predicate (J4 parity,
    bbox_text_matcher.py:70-83)."""
    return (
        (F.col(f"{txt}.y2") <= F.col(f"{img}.y1"))
        & ((F.col(f"{img}.y1") - F.col(f"{txt}.y2")) <= F.lit(max_distance))
        & ~(
            (F.col(f"{txt}.x2") < F.col(f"{img}.x1"))
            | (F.col(f"{txt}.x1") > F.col(f"{img}.x2"))
        )
    )


def url_bucket_col(url: Column, n_buckets: int) -> Column:
    """Url-hash bucket for repartition + checkpoint lineage.

    ``xxhash64`` of the whole url spreads any single hot host/domain
    across all buckets (the reference's analog is spreading requests
    across Triton instances, config_gpu_paddlex.pbtxt:18-24). The
    constant ``0`` second argument keeps every stored ``bucket`` id."""
    return F.pmod(F.xxhash64(url, F.lit(0)), F.lit(n_buckets)).cast("int")


def hash_bucket_col(key: Column, n_buckets: int) -> Column:
    """Stable cross-engine hash bucket in [0, n_buckets): first 8 hex
    chars of md5(key) as an unsigned int, mod n_buckets. md5 (not
    murmur/xxhash) so a SQL oracle replays it exactly — in DuckDB
    ``('0x' || substr(md5(key), 1, 8))::UBIGINT % n_buckets``."""
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    )


def canonical_url_col(url: Column) -> Column:
    """URL canonicalization for url-keyed dedup/grouping — the standard
    web-pipeline normalizations, all JVM-side regex/string ops:

    - scheme + host lowercased (authority case is insignificant),
    - default ports stripped (:80 http, :443 https),
    - fragment dropped,
    - tracking params removed (utm_*, fbclid, gclid),
    - trailing '?'/'&' tidied, trailing slash on a bare path kept as-is
      (path semantics are origin-defined; we never rewrite path case).

    Non-absolute input (no ``scheme://`` — relative hrefs, mailto:,
    protocol-relative ``//host/...``) passes through UNCHANGED: the
    normalizations above are only well-defined against an authority, and
    mangling (e.g. '://example.com/path' from a schemeless input) would
    silently corrupt dedup/group keys downstream.
    """
    is_absolute = url.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://")
    # split once: scheme://authority, rest
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    after = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    authority = F.regexp_extract(after, r"^([^/?#]*)", 1)
    rest = F.substring(after, F.length(authority) + 1, F.lit(1 << 20)).cast("string")
    authority = F.lower(authority)
    # default ports only: :80 for http, :443 for https
    authority = F.when(
        scheme == "http", F.regexp_replace(authority, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(authority, r":443$", "")
    ).otherwise(authority)
    rest = F.regexp_replace(rest, r"#.*$", "")                      # fragment
    rest = F.regexp_replace(rest, r"([?&])(utm_[^=&]*|fbclid|gclid)=[^&]*", "$1")
    rest = F.regexp_replace(rest, r"[?&]+$", "")                    # dangling
    rest = F.regexp_replace(rest, r"\?&", "?")
    rest = F.regexp_replace(rest, r"&&+", "&")
    canon = F.concat(scheme, F.lit("://"), authority, rest)
    return F.when(is_absolute, canon).otherwise(url)


def host_col(url: Column) -> Column:
    """Lowercased host (port stripped) — the per-domain skew/stats key."""
    h = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1))
    return F.regexp_replace(h, r"^www\.", "")


def surt_key_col(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the canonical
    sort key of web-archive CDX indexes: ``com,example)/path?a=1&b=2``.
    Host labels reverse so one registrable domain's pages are one
    contiguous key range (prefix scans / range partitions align with
    domains — the property the whole CDX format exists for).

    Deterministic subset, all JVM-side Column ops (mirrors the standard
    wayback canonicalizer): http(s) absolute URLs only (others -> NULL);
    host lowercased, ``www.`` and port stripped, labels reversed and
    comma-joined; path+query lowercased; fragment dropped; query params
    sorted bytewise; empty path becomes ``/``. Userinfo and %-escape
    normalization are out of scope (documented).
    """
    host = host_col(url)
    hostkey = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    after = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    authority = F.regexp_extract(after, r"^([^/?#]*)", 1)
    rest = F.lower(
        F.substring(after, F.length(authority) + 1, F.lit(1 << 20)).cast("string")
    )
    rest = F.regexp_replace(rest, r"#.*$", "")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    key = F.concat(
        hostkey,
        F.lit(")"),
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), qsorted)),
    )
    return F.when(url.rlike(r"^(?i)https?://"), key).otherwise(F.lit(None))


def outlinks_col(html_str: Column) -> Column:
    """Absolute http(s) outlinks from <a href=...> tags — the crawl-graph
    primitive (outlink tables feed frontier expansion / link-based quality
    signals). Pure regexp_extract_all; compose with ``canonical_url_col``
    after explode for a normalized edge list."""
    pat = r"""(?i)<a\s[^>]*href\s*=\s*["']?(https?://[^"'\s>]+)"""
    return F.regexp_extract_all(html_str, F.lit(pat), 1)
