"""Payload-kind classification by magic bytes (SURVEY.md §2 S2).

The reference resolves the branch from an explicit ``fileType`` flag or the
URL extension and 422s on unknown kinds
(/root/reference/server/model_repo/layout-parsing/1/model.py:375-394).
Our batch engine must never fail a task for one bad payload, so unknown
kinds classify to ``"garbage"`` and downstream produce a
``parse_ok=false`` row instead (T5 fault isolation, model.py:569-589).

Also exposed as a Spark Column expression in
``paddle_spark.functions.payload_kind_col`` so the classification can be
used for partition pruning without entering Python.
"""

from __future__ import annotations

PDF_MAGIC = b"%PDF"
IMAGE_MAGICS = (
    b"\x89PNG\r\n\x1a\n",
    b"\xff\xd8\xff",          # JPEG
    b"GIF87a",
    b"GIF89a",
    b"II*\x00",               # TIFF little-endian
    b"MM\x00*",               # TIFF big-endian
)
# BMP needs a compound check ('BM' + known DIB header size at offset 14);
# the valid DIB sizes as little-endian uint32 bytes (BITMAPCOREHEADER
# through BITMAPV5HEADER — the set decode_bmp_pixels accepts, plus core)
BMP_DIB_SIZES = tuple(
    n.to_bytes(4, "little") for n in (12, 40, 52, 56, 64, 108, 124)
)
# RIFF containers disambiguate on the form type at bytes 8:12
RIFF_FORMS = {
    b"WEBP": "image",
    b"WAVE": "audio",
    b"AVI ": "video",
}

KIND_HTML = "html"
KIND_PDF = "pdf"
KIND_IMAGE = "image"
KIND_AUDIO = "audio"
KIND_VIDEO = "video"
KIND_GARBAGE = "garbage"
# every value classify_payload / functions.payload_kind_col returns
PAYLOAD_KINDS = (KIND_HTML, KIND_PDF, KIND_IMAGE, KIND_AUDIO, KIND_VIDEO, KIND_GARBAGE)


def classify_payload(payload: bytes | None) -> str:
    """Classify raw page bytes into html / pdf / image / audio / video /
    garbage. RIFF payloads split by form type (WEBP -> image, WAVE ->
    audio, AVI -> video; unknown RIFF forms -> garbage); Sun AU (.snd)
    and IFF AIFF/AIFC classify audio, as do ID3-tagged MP3 / Ogg / FLAC
    (header metadata via kernels/audiometa.py; bare-sync MP3s without an
    ID3 tag stay garbage here — an 0xFFEx prefix alone is too weak a
    magic for a classifier that must never misfile binary soup)."""
    if not payload:
        return KIND_GARBAGE
    if payload[:4] == PDF_MAGIC:
        return KIND_PDF
    for magic in IMAGE_MAGICS:
        if payload[: len(magic)] == magic:
            return KIND_IMAGE
    # BMP: 'BM' alone is a 2-byte magic (too weak — ASCII text can start
    # with it), so require a known DIB header size at offset 14; those
    # little-endian uint32 values contain NUL bytes, which plain text
    # never does, making the combined check soup-proof.
    if payload[:2] == b"BM" and payload[14:18] in BMP_DIB_SIZES:
        return KIND_IMAGE
    if payload[:4] == b"RIFF":
        return RIFF_FORMS.get(payload[8:12], KIND_GARBAGE)
    if payload[:4] == b".snd":
        return KIND_AUDIO
    if payload[:3] == b"ID3" or payload[:4] in (b"OggS", b"fLaC"):
        return KIND_AUDIO  # compressed audio: ID3-tagged MP3 / Ogg / FLAC
    if payload[4:8] == b"ftyp":
        return KIND_VIDEO  # ISO-BMFF (MP4/MOV/M4A; kernels/bmff.py)
    if payload[:4] == b"\x1a\x45\xdf\xa3":
        return KIND_VIDEO  # EBML: Matroska/WebM (kernels/ebml.py)
    if payload[:4] == b"FORM":  # generic IFF: only the audio forms are ours
        return KIND_AUDIO if payload[8:12] in (b"AIFF", b"AIFC") else KIND_GARBAGE
    head = payload[:256].lstrip()
    if head[:1] == b"<":
        return KIND_HTML
    return KIND_GARBAGE
