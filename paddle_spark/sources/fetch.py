"""URL-fetch ingest seam (S1's URL branch).

The reference's ``get_raw_bytes`` accepts either inline bytes or a URL to
fetch (/root/reference/server/model_repo/layout-parsing/1/model.py:397,
wheel ``paddlex_hps_client/utils.py``). For a Common-Crawl-shaped table
the bytes-in-table form is the right default (SURVEY §2 S1), but the URL
form exists as an injectable stage: a ``fetcher(url) -> bytes`` callable
runs Arrow-batched under ``operators/per_item.map_per_item``, the
package's one per-item fault isolation point (one dead URL = one failed
row, never a failed task — T5). The default fetcher raises: this
sandbox has no network, and a silent stub would hide that.

At scale the fetch stage is IO-bound, not CPU-bound — run it with more
partitions than cores and keep the extraction stage's repartition AFTER
the fetch so extraction parallelism is not coupled to fetch parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from paddle_spark.operators.per_item import map_per_item

FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("fetch_ok", T.BooleanType(), False),
        T.StructField("fetch_error", T.StringType(), True),
    ]
)


def default_fetcher(url: str) -> bytes:
    raise NotImplementedError(
        "no network in this runtime — inject fetcher= (e.g. requests.get "
        "with timeout) on a real cluster"
    )


def fetch_pages(urls: DataFrame, fetcher=None, url_col: str = "url") -> DataFrame:
    """urls(url) -> (url, html, fetch_ok, fetch_error), Arrow-batched."""
    fn = fetcher or default_fetcher
    # the url is both the row key and the item the fetcher works on
    src = urls.select(urls[url_col].alias("url"), urls[url_col].alias("payload"))

    def fetched(u, url):
        yield (u, fn(str(url)), True, None)

    def failed(u, exc):
        return (u, None, False, f"{type(exc).__name__}: {exc}")

    return map_per_item(src, FETCHED_SCHEMA, fetched, failed)
