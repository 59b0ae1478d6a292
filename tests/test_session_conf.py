"""Session configuration pins.  ANSI mode is on, so integer overflow fails
the query instead of wrapping: the exact-integer operators (PageRank,
LPA, the frame offset) carry no overflow checks of their own and rely on
exactly these engine errors; the DuckDB twins rely on DuckDB's.  Tungsten
pages are 4 MiB (less the array header) whatever the heap and core count,
so a sorting task commits 4 MiB, not the 64 MiB Spark would derive from
the 8g heap."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df
from kie_invoice_minimal_spark.sources.transcripts import synth_transcripts

PAGE_BYTES = (4 << 20) - 16  # 4 MiB less the long[] header: one G1 region


def test_ansi_mode_enabled(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_page_size_is_fixed(spark):
    """``spark.buffer.pageSize`` is pinned: the memory manager hands every
    task pages of 4 MiB less 16 bytes, not heap / slots / 16 clamped to
    64 MiB."""
    env = spark.sparkContext._jsc.sc().env()
    assert env.memoryManager().pageSizeBytes() == PAGE_BYTES


def test_flagship_sort_peaks_within_two_pages(spark, stage_peak_memory):
    """The flagship's partition-local sort over 2,000 turns (a few hundred
    KB per task) commits its first page and no more: no stage of the job
    peaks above 2 pages of execution memory (64 MiB with the heap-derived
    page size)."""
    sc = spark.sparkContext
    sc.setJobGroup("page-size", "extract_triples_df over 2,000 turns")
    try:
        extract_triples_df(synth_transcripts(spark, 2000)).write.format(
            "noop"
        ).mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    peak = stage_peak_memory("page-size")
    assert 0 < peak <= 2 * PAGE_BYTES, peak


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
