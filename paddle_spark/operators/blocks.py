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

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.kernels.classify import KIND_HTML, KIND_PDF, classify_payload
from paddle_spark.kernels.html import segment_blocks
from paddle_spark.kernels.layout import pdf_pages, process_page
from paddle_spark.operators.per_item import item_rows, map_per_item

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


HTML_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("table_no", T.IntegerType(), True),
        T.StructField("table_md", T.StringType(), True),
    ]
)


def _block_rows(url: str, payload: bytes, cfg: ExtractConfig):
    """Yield one document's block rows; raises on a poisoned payload."""
    kind = classify_payload(payload)
    if kind == KIND_HTML:
        for b in segment_blocks(payload, cfg):
            yield (url, 0, b.block_id, "html", b.tag or "text", None, None,
                   None, None, None, b.text, b.kept, b.drop_reason or None)
    elif kind == KIND_PDF:
        pages = pdf_pages(payload)[: cfg.hard_page_cap]
        for page_no, page in enumerate(pages):
            blocks, _ = process_page(page, cfg)
            for i, blk in enumerate(blocks):
                x1, y1, x2, y2 = blk["bbox"]
                yield (url, page_no, i, "layout", blk["label"], x1, y1, x2,
                       y2, blk["score"], blk["text"], True, None)
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
                        yield (url, page_no, i, "layout", "ocr_text",
                               x1, y1, x2, y2, None, ln, True, None)
                        i += 1


def _error_row(url: str, exc: Exception) -> tuple:
    return (url, 0, 0, "error", "error", None, None, None, None, None,
            None, False, f"{type(exc).__name__}: {exc}")


def document_blocks(url: str, payload: bytes, cfg: ExtractConfig) -> list[tuple]:
    """Per-document block rows (pure; never raises: a poisoned payload
    keeps the rows made before the fault and ends in one ``error`` row)."""
    return item_rows(partial(_block_rows, cfg=cfg), url, payload, _error_row)


def extract_blocks(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Fan out documents into block rows (1 -> N, Arrow-batched). The plan
    is map-only; a caller that wants fan-out repartitions before the
    call."""
    return map_per_item(pages.select("url", "html"), BLOCKS_SCHEMA,
                        partial(_block_rows, cfg=cfg), _error_row)


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

    def table_rows(url, payload):
        tables = html_tables(
            bytes(payload) if payload is not None else b""
        )
        for i, md in enumerate(tables):
            yield (url, i, md)

    return map_per_item(src, HTML_TABLES_SCHEMA, table_rows)
