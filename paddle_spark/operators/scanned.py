"""Scanned-document extraction operator: pixels in, ordered text out.

The Spark half of the scanned-page branch (kernels/scan.py): one
map-only ``mapInPandas`` stage decodes each page image and runs the
deterministic detector chain (binarize -> 8-connected components ->
line grouping -> reading order -> template OCR). Mirrors the reference's
image path (model.py:300-337) the same way extract_pages mirrors its
document path: kernels are pure and Spark-free, ``map_per_item``
isolates poisoned payloads (T5), and the plan has zero shuffles — a
caller whose input arrives skewed repartitions it first. Embarrassingly
parallel at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddle_spark.operators.per_item import map_per_item

SCANNED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_glyphs", T.IntegerType(), False),
        T.StructField("n_lines", T.IntegerType(), False),
        T.StructField("n_dropped", T.IntegerType(), False),
        T.StructField("parse_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


ORIENTED_SCHEMA = T.StructType(
    [T.StructField("url", T.StringType(), False),
     T.StructField("rotation", T.IntegerType(), False)]
    + SCANNED_SCHEMA.fields[1:]
)


def extract_scanned(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Run the scanned-page chain over a (url, payload) DataFrame of page
    images. The plan is map-only; a caller whose input arrives skewed
    repartitions it before the call."""
    from paddle_spark.kernels.scan import ocr_page

    return _scanned_plan(pages, SCANNED_SCHEMA, lambda img: (0, ocr_page(img, cfg)))


def extract_scanned_oriented(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """extract_scanned with the orientation-classify stage in front (the
    reference's use_doc_orientation_classify, pipeline_config.yaml:264-272):
    each page additionally reports ``rotation`` — the number of
    quarter-turns (``np.rot90`` convention, 0/1/2/3 for 0/90/180/270°)
    applied before OCR. Same map-only plan shape as extract_scanned."""
    from paddle_spark.kernels.scan import ocr_page_oriented

    return _scanned_plan(
        pages, ORIENTED_SCHEMA, lambda img: ocr_page_oriented(img, cfg)
    )


def _scanned_plan(pages: DataFrame, schema: T.StructType, page_ocr) -> DataFrame:
    """The one mapInPandas stage behind both operators: decode each
    payload, run ``page_ocr(image) -> (rotation, ScanResult)`` and emit a
    ``schema`` row, with the rotation only when ``schema`` has that
    column."""
    from paddle_spark.kernels.pixels import decoder_for

    decode = decoder_for("auto")  # resolved at plan construction
    oriented = "rotation" in schema.fieldNames()

    def row(url, rot, *rest):
        return (url, rot, *rest) if oriented else (url, *rest)

    def ocr(url, p):
        rot, r = page_ocr(decode(p))
        yield row(url, rot, r.text, r.n_glyphs, r.n_lines, r.n_dropped,
                  r.parse_ok, r.error)

    def failed(url, e):
        return row(url, 0, None, 0, 0, 0, False, f"{type(e).__name__}: {e}")

    return map_per_item(pages.select("url", "payload"), schema, ocr, failed)
