"""paddle_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the document→ordered-blocks→text dataflow of
the reference serving stack (xynehq/paddle) as an idiomatic Spark batch
pipeline over Common-Crawl-style page tables:

- HTML branch: boilerplate stripping via text-density + link-density block
  scoring (Readability/trafilatura-class heuristics) over batched parses.
- Layout branch: detection-box thresholding, IoU NMS, merge modes, y-overlap
  line grouping and XY-cut-style reading order as columnar NumPy kernels;
  born-digital PDFs parse their real text layer (kernels.pdf), scanned
  pages (standalone images or image-XObject PDF pages) run a deterministic
  detector + template-OCR chain end-to-end from pixels (kernels.scan).
- Multimodal: pure-Python pixel decode for PNG/APNG/BMP/GIF (composited)/
  JPEG (baseline+progressive)/TIFF (multi-page)/WEBP-lossless (lossy VP8
  via a system-libwebp ctypes arm), WAV/PCM audio stats, AVI video frame
  sampling (MJPEG through the same JPEG kernel, BI_RGB raw DIB), visual
  features (dhash + histogram embeddings), banded visual near-dup, frame
  sampling, orientation classify and table-grid markdown — all map-only
  mapInPandas plans; the host picks the pixel decoder
  (``kernels.pixels.decoder_for``), and one per-item map
  (``operators.per_item``) turns a poisoned payload into a failure row.
- Both branches run inside ``mapInPandas`` over Arrow batches — never
  per-row Python at the DataFrame level.

Layout:
- ``paddle_spark.kernels``   pure Python/NumPy per-document kernels
  (importable without Spark; the golden-test reference implementation).
- ``paddle_spark.sources``   deterministic synthetic page corpus + IO.
- ``paddle_spark.operators`` Spark jobs: extraction, checkpoint/resume,
  dedup, similarity search, text analysis.
- ``paddle_spark.functions`` reusable Column expression helpers.
- ``paddle_spark.plans``     SparkSession builder + plan inspection helpers.
- ``paddle_spark.streaming`` Structured Streaming re-expressions.
"""

__version__ = "0.1.0"
