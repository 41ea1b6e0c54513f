from __future__ import annotations

from contextlib import contextmanager

import duckdb
import pytest

from kgspark.session import get_spark

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kgspark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def checkpointed(spark, monkeypatch):
    """The columns of every frame ``localCheckpoint``ed while the test
    runs, one tuple per call (``clear()`` it to start a new count)."""
    engine = type(spark.range(1))
    calls = []
    orig = engine.localCheckpoint

    def spy(self, *a, **kw):
        calls.append(tuple(self.columns))
        return orig(self, *a, **kw)

    monkeypatch.setattr(engine, "localCheckpoint", spy)
    return calls


@contextmanager
def conf_set(spark, key: str, value: str):
    """Set one session conf for the block, then restore it."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


class _OracleConn:
    """DuckDB connection wrapper that applies the oracle dialect rewrite
    (CTE materialization) to every query, like the external driver would
    run them standalone."""

    def __init__(self, con):
        self._con = con

    def execute(self, sql: str, *a, **kw):
        from kgspark.dialect import materialize_ctes

        return self._con.execute(materialize_ctes(sql), *a, **kw)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_TINY}/{t}.parquet')"
        )
    yield _OracleConn(con)
    con.close()


def assert_df_equal(spark_df, duck_df, sort_cols=None, check_dtype=False, atol=None):
    """Order-insensitive DataFrame equality between Spark and DuckDB results."""
    import pandas as pd

    a = spark_df.toPandas()
    b = duck_df if isinstance(duck_df, pd.DataFrame) else duck_df.df()
    cols = sorted(a.columns)
    assert cols == sorted(b.columns), f"columns differ: {cols} vs {sorted(b.columns)}"
    sort_cols = sort_cols or cols
    a = a[cols].sort_values(sort_cols).reset_index(drop=True)
    b = b[cols].sort_values(sort_cols).reset_index(drop=True)
    if atol is not None:
        pd.testing.assert_frame_equal(a, b, check_dtype=check_dtype, atol=atol, rtol=0)
    else:
        pd.testing.assert_frame_equal(a, b, check_dtype=check_dtype)
