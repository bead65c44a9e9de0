"""operators/per_item: the one per-item map behind the payload operators.

The contract (T5): an item that raises ends there, keeps the rows it
already yielded and gets ``on_error``'s failure row; its neighbours are
untouched and the task never fails. The source scan pins that the batch
loop lives in the helper and in the few stages whose batch shape differs.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

from paddle_spark.operators.per_item import item_rows, map_per_item

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the key is not the first column, so output that put the key first fails
SCHEMA = T.StructType(
    [
        T.StructField("status", T.StringType(), False),
        T.StructField("key", T.LongType(), False),
        T.StructField("part", T.IntegerType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
    ]
)
POISONED = {3, 7}
FAN_OUT = 5  # yields two rows, then raises


def _planted():
    """``(rows, on_error)``, nested so the workers unpickle them by value."""

    def rows(key, payload):
        key = int(key)
        if key in POISONED:
            raise ValueError(f"poisoned {key}")
        n_parts = 3 if key == FAN_OUT else 1
        for part in range(n_parts):
            if key == FAN_OUT and part == 2:
                raise RuntimeError("fault after two rows")
            yield ("ok", key, part, len(payload))

    def on_error(key, exc):
        return (type(exc).__name__, int(key), -1, None)

    return rows, on_error


def test_item_rows_keeps_yielded_rows_and_adds_failure_row():
    rows, on_error = _planted()
    assert item_rows(rows, 1, b"ab", on_error) == [("ok", 1, 0, 2)]
    assert item_rows(rows, 3, b"ab", on_error) == [("ValueError", 3, -1, None)]
    assert item_rows(rows, 3, b"ab") == []
    fan = [("ok", FAN_OUT, 0, 1), ("ok", FAN_OUT, 1, 1)]
    assert item_rows(rows, FAN_OUT, b"x") == fan
    assert item_rows(rows, FAN_OUT, b"x", on_error) == fan + [
        ("RuntimeError", FAN_OUT, -1, None)
    ]


def _src(spark):
    data = [(k, bytes(k + 1)) for k in range(10)]
    return spark.createDataFrame(data, "key long, payload binary").repartition(3)


def test_map_per_item_isolates_items(spark):
    rows, on_error = _planted()
    out = map_per_item(_src(spark), SCHEMA, rows, on_error)
    assert out.columns == SCHEMA.fieldNames()
    got = sorted(tuple(r) for r in out.collect())  # the task did not fail
    want = []
    for k in range(10):
        if k in POISONED:
            want.append(("ValueError", k, -1, None))
        elif k == FAN_OUT:
            want += [("ok", k, 0, k + 1), ("ok", k, 1, k + 1),
                     ("RuntimeError", k, -1, None)]
        else:
            want.append(("ok", k, 0, k + 1))
    assert got == sorted(want)


def test_map_per_item_without_on_error_drops_failures_only(spark):
    rows, _ = _planted()
    got = sorted(
        (r["key"], r["part"])
        for r in map_per_item(_src(spark), SCHEMA, rows).collect()
    )
    kept = [k for k in range(10) if k not in POISONED and k != FAN_OUT]
    assert got == sorted([(k, 0) for k in kept] + [(FAN_OUT, 0), (FAN_OUT, 1)])


def test_batch_loop_lives_in_the_helper():
    """Every payload operator's batch loop is ``map_per_item``'s: the loop
    appears in ``paddle_spark/`` only in the helper and in the stages whose
    batch shape it does not serve, and the modules that moved onto it catch
    no exception of their own."""
    allowed = {
        "operators/per_item.py",
        # make_extract_batch: per-bucket accumulator counts, WET
        # passthrough, columnar output (the extraction hot path)
        "operators/extract_job.py",
        # make_batch_captioner: a per-batch deadline
        "operators/enrich.py",
        # bpe_encode: a per-batch memo and no per-item isolation
        "operators/bpe.py",
        # WARC readers: a task-level size guard that must raise, and
        # output streamed in bounded chunks
        "sources/warc.py",
        # export_wet: one archive file per task, written as a side effect
        "operators/export.py",
    }
    pkg = os.path.join(ROOT, "paddle_spark")
    found = set()
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
        for name in filenames:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                if "for pdf in batches" in fh.read():
                    found.add(os.path.relpath(path, pkg))
    assert found == allowed
    for mod in ("operators/multimodal.py", "operators/scanned.py",
                "operators/blocks.py", "sources/fetch.py"):
        with open(os.path.join(pkg, mod), encoding="utf-8") as fh:
            assert "except Exception" not in fh.read(), mod
