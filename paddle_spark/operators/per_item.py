"""One per-item map for the payload operators: the package's T5 point.

The reference turns one bad document into a failed response while the
server keeps running (model.py:569-589). Here that rule reads "a
poisoned payload yields a failure row, never a failed task", and this
module is its one implementation: every payload operator (pixel, audio,
container and EXIF metadata, scanned OCR, block fan-out, URL fetch)
supplies only its per-payload row function and its failure row.

``item_rows`` is the Spark-free per-item rule; ``map_per_item`` is the
Arrow-batched ``mapInPandas`` stage around it.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from paddle_spark.worker import install as install_worker_fix

Rows = Callable[[object, object], Iterable[tuple]]
OnError = Callable[[object, Exception], tuple]


def item_rows(rows: Rows, key, payload, on_error: OnError | None = None) -> list[tuple]:
    """The rows ``rows(key, payload)`` yields, isolated: an exception ends
    the item, the rows it already yielded stay, and ``on_error(key, exc)``'s
    failure row follows when ``on_error`` is given. Never raises from
    ``rows``."""
    out: list[tuple] = []
    try:
        for row in rows(key, payload):
            out.append(row)
    except Exception as exc:  # per-item isolation (T5)
        if on_error is not None:
            out.append(on_error(key, exc))
    return out


def map_per_item(
    src: DataFrame,
    schema: T.StructType,
    rows: Rows,
    on_error: OnError | None = None,
) -> DataFrame:
    """Map a two-column ``(key, payload)`` frame to ``schema`` rows, item by
    item under ``item_rows``. Rows are tuples in ``schema`` order; each
    Arrow batch becomes one ``pd.DataFrame(rows, columns=...)``. The plan
    is map-only. The batch body runs only in Python workers, and first
    installs ``paddle_spark.worker``'s fix there."""
    key_col, payload_col = src.columns
    columns = schema.fieldNames()

    def batch(batches):
        install_worker_fix()
        for pdf in batches:
            out: list[tuple] = []
            for key, payload in zip(pdf[key_col], pdf[payload_col]):
                out += item_rows(rows, key, payload, on_error)
            yield pd.DataFrame(out, columns=columns)

    return src.mapInPandas(batch, schema=schema)
