"""Diagnostic `blocks` table: one row per block (SURVEY.md §1.2).

The UDTF-shaped fan-out (U5): one document row -> N block rows, from
either branch. The reference's analog is the per-page
``parsing_res_list`` exploded (one request -> pages -> blocks,
/root/reference/server/model_repo/layout-parsing/1/model.py:300-368,
:536-552). Used for debugging extraction decisions (what was kept/dropped
and why) — the production pipeline keeps blocks inside the kernel and
never materializes this at 10^12 scale, so this operator is opt-in.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.kernels.classify import KIND_HTML, KIND_PDF, classify_payload
from paddle_spark.kernels.html import segment_blocks
from paddle_spark.kernels.layout import pdf_pages, process_page

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("branch", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("x1", T.DoubleType(), True),
        T.StructField("y1", T.DoubleType(), True),
        T.StructField("x2", T.DoubleType(), True),
        T.StructField("y2", T.DoubleType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("kept", T.BooleanType(), False),
        T.StructField("drop_reason", T.StringType(), True),
    ]
)


def document_blocks(url: str, payload: bytes, cfg: ExtractConfig) -> list[tuple]:
    """Per-document block rows (pure; never raises)."""
    rows: list[tuple] = []
    try:
        kind = classify_payload(payload)
        if kind == KIND_HTML:
            for b in segment_blocks(payload, cfg):
                rows.append(
                    (url, 0, b.block_id, "html", b.tag or "text", None, None,
                     None, None, None, b.text, b.kept, b.drop_reason or None)
                )
        elif kind == KIND_PDF:
            pages = pdf_pages(payload)[: cfg.hard_page_cap]
            for page_no, page in enumerate(pages):
                blocks, _ = process_page(page, cfg)
                for i, blk in enumerate(blocks):
                    x1, y1, x2, y2 = blk["bbox"]
                    rows.append(
                        (url, page_no, i, "layout", blk["label"], x1, y1, x2,
                         y2, blk["score"], blk["text"], True, None)
                    )
                if not blocks and page.get("images") and cfg.ocr_scanned_pdfs:
                    # scanned page: the SAME fallback extract_layout runs,
                    # surfaced here with the detector's per-line boxes
                    from paddle_spark.kernels.scan import ocr_page

                    i = 0
                    for img in page["images"]:
                        r = ocr_page(img, cfg)
                        if not r.text:
                            continue
                        for ln, box in zip(
                            r.text.split("\n"), r.line_boxes
                        ):
                            if not ln:
                                continue
                            x1, y1, x2, y2 = box
                            rows.append(
                                (url, page_no, i, "layout", "ocr_text",
                                 x1, y1, x2, y2, None, ln, True, None)
                            )
                            i += 1
    except Exception as exc:  # noqa: BLE001 — per-doc isolation (T5)
        rows.append(
            (url, 0, 0, "error", "error", None, None, None, None, None,
             None, False, f"{type(exc).__name__}: {exc}")
        )
    return rows


def extract_blocks(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Fan out documents into block rows (1 -> N, Arrow-batched). The plan
    is map-only; a caller that wants fan-out repartitions before the
    call."""
    src = pages.select("url", "html")

    def fan_out(batches):
        for pdf in batches:
            out: list[tuple] = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                out.extend(document_blocks(url, payload, cfg))
            yield pd.DataFrame(out, columns=[f.name for f in BLOCKS_SCHEMA.fields])

    return src.mapInPandas(fan_out, schema=BLOCKS_SCHEMA)


def html_table_blocks(
    pages: DataFrame,
    url_col: str = "url",
    payload_col: str = "html",
) -> DataFrame:
    """HTML table recognition fan-out: one page row -> one row per
    ``<table>``, rendered as GitHub pipe-table markdown
    (kernels/html.html_tables — same markdown contract as the PDF/layout
    branch's kernels/table.render_table). Map-only Arrow-batched
    mapInPandas with per-item isolation: unparseable payloads yield zero
    rows, never task failures. The HTML-modality analog of the
    reference's SLANet table pipeline output."""
    from paddle_spark.kernels.html import html_tables

    src = pages.select(
        F.col(url_col).alias("url"), F.col(payload_col).alias("payload")
    )

    def batch(batches):
        for pdf in batches:
            urls, nos, mds = [], [], []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                try:
                    tables = html_tables(
                        bytes(payload) if payload is not None else b""
                    )
                except Exception:
                    continue
                for i, md in enumerate(tables):
                    urls.append(url)
                    nos.append(i)
                    mds.append(md)
            yield pd.DataFrame(
                {"url": urls, "table_no": nos, "table_md": mds}
            )

    return src.mapInPandas(
        batch, schema="url string, table_no int, table_md string"
    )
