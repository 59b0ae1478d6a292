"""Session configuration pins: ANSI mode is on, so integer overflow fails
the query instead of wrapping."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F


def test_ansi_mode_enabled(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_bigint_multiply_overflow_raises(spark):
    big = spark.range(1).select((F.col("id") + F.lit(1 << 62)).alias("x"))
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        big.select(F.col("x") * F.lit(2)).collect()
