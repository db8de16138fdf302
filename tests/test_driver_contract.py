"""Simulates the driver's correctness gate at sf0.001: for every entry in
queries() with an oracle, run Spark vs DuckDB and compare row count,
column names, and order-insensitive values."""

import math

import duckdb
import pytest
from pyspark.sql import types as T

import __spark_entry__ as entry_mod

# The driver canonicalizes results with pandas sort_values/factorize, which
# cannot hash array/map/struct cells (r02 red row: media_features). Every
# registered query must therefore emit scalar-only columns.
_NON_SCALAR = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)


def _assert_scalar_schema(name, df):
    for f in df.schema.fields:
        assert not isinstance(f.dataType, _NON_SCALAR), (
            f"{name}.{f.name}: driver canonicalizer cannot hash "
            f"{f.dataType.simpleString()} — flatten to scalar columns"
        )


# Scale-hygiene plan pins, enforced over EVERY registered query: no
# row-at-a-time Python UDF (BatchEvalPython — Arrow-batched
# ArrowEvalPython/MapInPandas are the allowed Python path) and no
# cartesian product (broadcast dim joins plan as BroadcastHashJoin /
# BroadcastNestedLoopJoin; a CartesianProduct means a corpus-sized
# blow-up at scale).
_PLAN_FORBIDDEN = ("BatchEvalPython", "CartesianProduct")


def _assert_plan_hygiene(name, df):
    plan = df._jdf.queryExecution().toString()
    for tok in _PLAN_FORBIDDEN:
        assert tok not in plan, (
            f"{name}: physical plan contains {tok} — not a 100TB-safe shape"
        )

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "__null__"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _key(t):
    return tuple((type(v).__name__, str(v)) for v in t)


def _rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_key)


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_oracle(spark, sf_dir, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, sf_dir)
    _assert_scalar_schema(name, sdf)
    _assert_plan_hygiene(name, sdf)
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    try:
        rel = con.sql(entry_mod.oracle_sql()[name])
        # The driver compares via pandas: DuckDB HUGEINT / DECIMAL / unsigned
        # columns degrade to float64 or object there and hash-mismatch the
        # Spark int64 twin even when values are equal (r03 red row:
        # local_supplier_volume — SUM(BIGINT) widens to HUGEINT).  Oracles
        # must CAST aggregates back to BIGINT/DOUBLE explicitly.
        for col, t in zip(rel.columns, [str(t).upper() for t in rel.types]):
            assert not any(
                k in t for k in ("HUGEINT", "DECIMAL", "UINTEGER", "UBIGINT",
                                 "USMALLINT", "UTINYINT")
            ), (
                f"{name}.{col}: oracle returns {t} — pandas degrades it to "
                f"float/object in the driver; CAST the aggregate explicitly"
            )
        res = con.execute(entry_mod.oracle_sql()[name])
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
    finally:
        con.close()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row counts differ"
    assert _rows(spark_rows, spark_cols) == _rows(duck_rows, duck_cols), (
        f"{name}: values differ"
    )


@pytest.mark.parametrize(
    "name",
    sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql())),
)
def test_rows_only_query_runs(spark, sf_dir, name):
    """Queries without a SQL oracle (driver does rows-only): they must
    execute and produce a stable, non-empty schema."""
    df = entry_mod.queries()[name](spark, sf_dir)
    _assert_scalar_schema(name, df)
    _assert_plan_hygiene(name, df)
    assert len(df.schema.fields) > 0
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
