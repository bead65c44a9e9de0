"""Unified per-document extraction (the 'narrow waist', SURVEY.md §7).

Mirrors the reference's single entry point ``_run_impl``
(/root/reference/server/model_repo/layout-parsing/1/model.py:374-431):
classify the payload, branch to HTML or layout extraction, never raise for
one bad document (T5 fault isolation — model.py:569-589 turns failures into
a 4xx response while the server survives; we turn them into a
``parse_ok=false`` row while the task survives).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.kernels.classify import (
    KIND_AUDIO,
    KIND_GARBAGE,
    KIND_HTML,
    KIND_IMAGE,
    KIND_PDF,
    KIND_VIDEO,
    classify_payload,
)
from paddle_spark.kernels.html import extract_html
from paddle_spark.kernels.layout import extract_layout


@dataclass
class ExtractResult:
    text: str
    text_sha256: str
    n_blocks_kept: int
    n_blocks_dropped: int
    parse_ok: bool
    branch: str  # "html" | "layout" | "none"
    error: str


def sha256_text(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def extract_document(
    payload: bytes | None,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    pixel_decode=None,
) -> ExtractResult:
    """Extract main content from one raw payload.

    Never raises for a bad *payload* (T5 fault isolation). With
    ``cfg.ocr_images`` image payloads decode through ``pixel_decode``;
    Spark callers resolve it once at plan construction
    (operators/extract_job.py), and it defaults to
    ``kernels/pixels.decoder_for("auto")``.
    """
    kind = classify_payload(payload)
    if kind == KIND_IMAGE and cfg.ocr_images and pixel_decode is None:
        from paddle_spark.kernels.pixels import decoder_for

        pixel_decode = decoder_for("auto")
    try:
        if kind == KIND_HTML:
            text, kept, dropped = extract_html(payload, cfg)
            return ExtractResult(text, sha256_text(text), kept, dropped, True, "html", "")
        if kind == KIND_PDF:
            text, kept, dropped = extract_layout(payload, cfg)
            return ExtractResult(text, sha256_text(text), kept, dropped, True, "layout", "")
        if kind == KIND_IMAGE:
            # Default: an image row is a SUCCESSFUL zero-block extraction
            # (header decodable in pure Python, kernels/raster.py) — no
            # pixel decode on the hot path. With cfg.ocr_images the
            # deterministic OCR chain runs (decode -> components -> line
            # group -> template match, kernels/scan.py) and recognized
            # lines become the text; pages whose ink is not the glyph
            # model (photos) still land as zero-block successes.
            if cfg.ocr_images:
                from paddle_spark.kernels.scan import ocr_page

                img = pixel_decode(payload)
                if img is not None:
                    r = ocr_page(img, cfg)
                    if r.parse_ok and r.n_glyphs > 0:
                        return ExtractResult(
                            r.text, sha256_text(r.text), r.n_lines,
                            r.n_dropped, True, "ocr", "",
                        )
            from paddle_spark.kernels.raster import decode_image_header

            meta = decode_image_header(payload)
            if meta is not None:
                return ExtractResult(
                    "", sha256_text(""), 0, 0, True, "layout", "",
                )
            return ExtractResult(
                "", sha256_text(""), 0, 0, False, "layout",
                "unparseable image header",
            )
        if kind in (KIND_AUDIO, KIND_VIDEO):
            # Recognized media payload (same policy as images): a
            # parseable container is a SUCCESSFUL zero-block extraction —
            # crawls do carry a/v bytes and they are not parse failures.
            # Feature extraction lives in the dedicated operators
            # (multimodal.audio_stats / video_frames), off the text path.
            from paddle_spark.kernels.audiometa import audio_container_meta
            from paddle_spark.kernels.riffav import avi_meta, decode_audio

            if kind == KIND_AUDIO:
                meta = decode_audio(payload) or audio_container_meta(payload)
            else:
                from paddle_spark.kernels.bmff import mp4_meta
                from paddle_spark.kernels.ebml import webm_meta

                meta = avi_meta(payload) or mp4_meta(payload) or webm_meta(payload)
            if meta is not None:
                return ExtractResult("", sha256_text(""), 0, 0, True, kind, "")
            return ExtractResult(
                "", sha256_text(""), 0, 0, False, kind,
                f"unparseable {kind} container",
            )
        return ExtractResult(
            "", sha256_text(""), 0, 0, False, "none", "unrecognized payload"
        )
    except Exception as exc:  # noqa: BLE001 — per-doc isolation (T5)
        return ExtractResult(
            "", sha256_text(""), 0, 0, False,
            "layout" if kind == KIND_PDF else kind,
            f"{type(exc).__name__}: {exc}",
        )
