"""Degenerate-input behavior of the round-2 operators: empty mention sets,
no duplicate pairs, single-row groups — they must return empty/identity
results, not throw."""

from __future__ import annotations

from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.mention_detect import (
    MENTION_SCHEMA_DDL,
    merge_adjacent_mentions,
)


def test_merge_empty_mentions(spark):
    empty = spark.createDataFrame([], MENTION_SCHEMA_DDL)
    out = merge_adjacent_mentions(empty)
    assert out.count() == 0
    assert "n_tokens" in out.columns


def test_merge_single_mention_is_identity(spark):
    one = spark.createDataFrame(
        [("c1", 0, 2, 10, 14, "Vina", "BRAND")], MENTION_SCHEMA_DDL
    )
    rows = merge_adjacent_mentions(one).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.surface, r.span_start, r.span_end, r.n_tokens) == ("Vina", 10, 14, 1)


def test_merge_nonadjacent_same_type_not_merged(spark):
    two = spark.createDataFrame(
        [
            ("c1", 0, 2, 10, 14, "Vina", "BRAND"),
            ("c1", 0, 5, 30, 35, "Masan", "BRAND"),
        ],
        MENTION_SCHEMA_DDL,
    )
    rows = merge_adjacent_mentions(two).collect()
    assert len(rows) == 2 and all(r.n_tokens == 1 for r in rows)


def test_cc_empty_edges(spark, cc_both_paths):
    empty = spark.createDataFrame([], "u bigint, v bigint")
    for path, got in cc_both_paths(empty).items():
        assert got == set(), path


def test_cc_self_loops_and_null_endpoints_only(spark, cc_both_paths):
    """Nothing survives the u != v filter, so no node gets a row."""
    edges = spark.createDataFrame(
        [(1, 1), (None, 2), (3, None), (None, None), (4, 4), (1, 1)],
        "u bigint, v bigint",
    )
    for path, got in cc_both_paths(edges).items():
        assert got == set(), path


def test_merge_different_types_adjacent_not_merged(spark):
    two = spark.createDataFrame(
        [
            ("c1", 0, 2, 10, 14, "Vina", "BRAND"),
            ("c1", 0, 3, 15, 20, "Milky", "NAME"),
        ],
        MENTION_SCHEMA_DDL,
    )
    rows = merge_adjacent_mentions(two).collect()
    assert len(rows) == 2 and all(r.n_tokens == 1 for r in rows)


def test_interval_bucketing_is_lossless(spark):
    """The time-bucket blocked interval join returns exactly the naive
    per-user join's pairs (any overlapping pair shares the bucket containing
    the overlap point)."""
    from kie_invoice_minimal_spark.operators.relational_ext import (
        interval_overlap_join,
    )

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.round(F.col("value") * 100).cast("bigint") * 600_000)
        ).alias("e_us"),
    )
    a, b = ev.alias("a"), ev.alias("b")
    naive = {
        (r.user_id, r.event_a, r.event_b)
        for r in a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .filter(
            (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.s_us") <= F.col("b.e_us"))
            & (F.col("b.s_us") <= F.col("a.e_us"))
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
        )
        .collect()
    }
    got = {
        (r.user_id, r.event_a, r.event_b)
        for r in interval_overlap_join(spark, sf).collect()
    }
    assert got == naive and len(got) > 0
