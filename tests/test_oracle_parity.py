"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` on DuckDB over the same sf dir, then compares row count,
column names, and order-insensitive values. Catching mismatches here avoids
burning driver rounds on CORRECTNESS_r{N}.json failures.

Each query's output schema is checked first for the types the result
canonicalizer cannot take.
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pytest
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    try:  # Decimal -> float
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _normalize_rows(rows):
    return sorted([tuple(_norm(v) for v in r) for r in rows], key=repr)


QUERY_NAMES = sorted(entrymod.queries().keys())


#: output types the pandas result canonicalizer cannot take: it sorts
#: cell values and crashes on unhashable lists, and Binary/Decimal/Null
#: scalars round-trip differently (or not at all) through pandas sorting
#: and hashing; no query needs them (array_join / to_json / hex / round
#: serialize them instead)
BANNED_TYPES = (
    T.ArrayType, T.MapType, T.StructType,
    T.BinaryType, T.DecimalType, T.NullType,
)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    bad = [f"{f.name}: {f.dataType.simpleString()}"
           for f in sdf.schema.fields if isinstance(f.dataType, BANNED_TYPES)]
    assert not bad, f"{name}: canonicalizer-hostile columns {bad}"
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    oracles = entrymod.oracle_sql()
    if name not in oracles:
        # non-SQL-expressible op: rows-only check like the driver's fallback
        assert len(spark_rows) >= 0
        return

    res = duck.execute(oracles[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert spark_cols == duck_cols, f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a, b = _normalize_rows(spark_rows), _normalize_rows(duck_rows)
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    assert not diffs, f"{name}: {len(diffs)} value mismatches; first: {diffs[:2]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["event_class", "n"]
