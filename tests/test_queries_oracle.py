"""Local replica of the driver's correctness gate: run every queries()
entry at sf0.001 and compare against its oracle_sql() in DuckDB —
row count, column names, and order-insensitive values.

Floats compare with 1e-6 tolerance (both sides round in-query; the
tolerance only absorbs last-ulp noise in pre-round sums).
"""

import json
import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, bool):
        return bool(v)
    return v


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    return a == b


def _compare(spark_rows, duck_rows, cols):
    assert len(spark_rows) == len(duck_rows), (
        f"row count {len(spark_rows)} != {len(duck_rows)}"
    )
    sk = sorted(spark_rows, key=repr)
    dk = sorted(duck_rows, key=repr)
    for srow, drow in zip(sk, dk):
        for c, sv, dv in zip(cols, srow, drow):
            assert _close(sv, dv), f"col {c}: spark={sv!r} duck={dv!r}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    q = QUERIES[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sorted(sdf.columns)
    spdf = sdf.toPandas()[spark_cols]

    res = ddb.execute(ORACLES[name])
    duck_cols = sorted(d[0] for d in res.description)
    assert spark_cols == duck_cols, f"{spark_cols} != {duck_cols}"
    ddf = res.df()[spark_cols]

    spark_rows = [tuple(_norm(v) for v in row) for row in spdf.itertuples(index=False)]
    duck_rows = [tuple(_norm(v) for v in row) for row in ddf.itertuples(index=False)]
    _compare(spark_rows, duck_rows, spark_cols)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_registry_pinned():
    """The driver contract is frozen: ``queries()`` keys in execution
    order, and every ``oracle_sql()`` string byte-for-byte (sha256), as
    recorded in goldens/entry_registry.json (tests/gen_goldens.py
    registry). Needs no Spark session."""
    from gen_goldens import REGISTRY_OUT, registry_contract

    pinned = json.loads(REGISTRY_OUT.read_text())
    now = registry_contract()
    assert now["queries"] == pinned["queries"]
    assert now["rows_only"] == pinned["rows_only"]
    assert sorted(now["oracle_sha256"]) == sorted(pinned["oracle_sha256"])
    changed = [
        n for n, h in pinned["oracle_sha256"].items()
        if now["oracle_sha256"][n] != h
    ]
    assert not changed, f"oracle_sql() text changed: {changed}"
