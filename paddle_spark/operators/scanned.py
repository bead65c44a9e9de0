"""Scanned-document extraction operator: pixels in, ordered text out.

The Spark half of the scanned-page branch (kernels/scan.py): one
map-only ``mapInPandas`` stage decodes each page image and runs the
deterministic detector chain (binarize -> 8-connected components ->
line grouping -> reading order -> template OCR). Mirrors the reference's
image path (model.py:300-337) the same way extract_pages mirrors its
document path: kernels are pure and Spark-free, per-item try/except
isolates poisoned payloads (T5), and the plan has zero shuffles unless
the caller asks for a repartition — embarrassingly parallel at any
corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from paddle_spark.config import DEFAULT_CONFIG, ExtractConfig

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


def extract_scanned(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_partitions: int | None = None,
) -> DataFrame:
    """Run the scanned-page chain over a (url, payload) DataFrame of page
    images. ``n_partitions`` adds the one optional shuffle (url hash) when
    upstream partitioning is skewed; by default the plan stays map-only."""
    from paddle_spark.kernels.pixels import decoder_for

    src = pages.select("url", "payload")
    if n_partitions:
        src = src.repartition(n_partitions, "url")
    decode = decoder_for("auto")  # resolved at plan construction

    def run(batches):
        from paddle_spark.kernels.scan import ocr_page

        for pdf in batches:
            urls = pdf["url"].tolist()
            payloads = pdf["payload"].tolist()
            out = {
                "url": urls,
                "text": [None] * len(urls),
                "n_glyphs": [0] * len(urls),
                "n_lines": [0] * len(urls),
                "n_dropped": [0] * len(urls),
                "parse_ok": [False] * len(urls),
                "error": [None] * len(urls),
            }
            for k, p in enumerate(payloads):
                try:
                    r = ocr_page(decode(p), cfg)
                    out["text"][k] = r.text
                    out["n_glyphs"][k] = r.n_glyphs
                    out["n_lines"][k] = r.n_lines
                    out["n_dropped"][k] = r.n_dropped
                    out["parse_ok"][k] = r.parse_ok
                    out["error"][k] = r.error
                except Exception as e:  # per-item isolation (T5)
                    out["error"][k] = f"{type(e).__name__}: {e}"
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=SCANNED_SCHEMA)


ORIENTED_SCHEMA = T.StructType(
    [T.StructField("url", T.StringType(), False),
     T.StructField("rotation", T.IntegerType(), False)]
    + SCANNED_SCHEMA.fields[1:]
)


def extract_scanned_oriented(
    pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_partitions: int | None = None,
) -> DataFrame:
    """extract_scanned with the orientation-classify stage in front (the
    reference's use_doc_orientation_classify, pipeline_config.yaml:264-272):
    each page additionally reports ``rotation`` — the number of
    quarter-turns (``np.rot90`` convention, 0/1/2/3 for 0/90/180/270°)
    applied before OCR. Same map-only plan shape as extract_scanned."""
    from paddle_spark.kernels.pixels import decoder_for

    src = pages.select("url", "payload")
    if n_partitions:
        src = src.repartition(n_partitions, "url")
    decode = decoder_for("auto")  # resolved at plan construction

    def run(batches):
        from paddle_spark.kernels.scan import ocr_page_oriented

        for pdf in batches:
            urls = pdf["url"].tolist()
            payloads = pdf["payload"].tolist()
            out = {
                "url": urls,
                "rotation": [0] * len(urls),
                "text": [None] * len(urls),
                "n_glyphs": [0] * len(urls),
                "n_lines": [0] * len(urls),
                "n_dropped": [0] * len(urls),
                "parse_ok": [False] * len(urls),
                "error": [None] * len(urls),
            }
            for k, p in enumerate(payloads):
                try:
                    rot, r = ocr_page_oriented(decode(p), cfg)
                    out["rotation"][k] = rot
                    out["text"][k] = r.text
                    out["n_glyphs"][k] = r.n_glyphs
                    out["n_lines"][k] = r.n_lines
                    out["n_dropped"][k] = r.n_dropped
                    out["parse_ok"][k] = r.parse_ok
                    out["error"][k] = r.error
                except Exception as e:  # per-item isolation (T5)
                    out["error"][k] = f"{type(e).__name__}: {e}"
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=ORIENTED_SCHEMA)
