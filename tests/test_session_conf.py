"""Session configuration pins: ANSI mode is on, so integer overflow fails
the query instead of wrapping.  The exact-integer operators (PageRank,
LPA, the frame offset) carry no overflow checks of their own and rely on
exactly these engine errors; the DuckDB twins rely on DuckDB's."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F


def test_ansi_mode_enabled(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_bigint_multiply_overflow_raises(spark):
    big = spark.range(1).select((F.col("id") + F.lit(1 << 62)).alias("x"))
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        big.select(F.col("x") * F.lit(2)).collect()


def test_bigint_sum_overflow_raises(spark):
    big = spark.range(2).select((F.col("id") * 0 + F.lit(1 << 62)).alias("x"))
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        big.agg(F.sum("x")).collect()


# the frame-offset expression of framed_frame_fps / frames_sql_cte, at an
# offset past INT32 (2^26 frames of 40 chars)
FRAME_SLICE = "substring(text, CAST(fi * 40 + 1 AS INT), 40)"


def test_bigint_to_int_cast_overflow_raises(spark):
    df = spark.createDataFrame([("abc", 1 << 26)], "text string, fi long")
    with pytest.raises(ArithmeticException, match="CAST_OVERFLOW"):
        df.select(F.expr(FRAME_SLICE)).collect()


def test_duckdb_twin_cast_overflow_raises():
    con = duckdb.connect()
    try:
        with pytest.raises(duckdb.ConversionException):
            con.execute(
                f"SELECT {FRAME_SLICE}"
                f" FROM (VALUES ('abc', CAST({1 << 26} AS BIGINT))) t(text, fi)"
            ).fetchall()
    finally:
        con.close()
