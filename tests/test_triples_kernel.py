"""The Arrow run join behind materialize_triples: run boundaries that are
null-safe and runs that span Arrow batch edges, checked against the
pure-Python oracle."""

from __future__ import annotations

import random
from contextlib import contextmanager

import pyarrow as pa

from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.mention_detect import (
    MENTION_SCHEMA,
    detect_mentions_arrow,
)
from kie_invoice_minimal_spark.operators.triples import (
    _triples_from_sorted,
    materialize_triples,
)
from kie_invoice_minimal_spark.oracle import extract_triples


@contextmanager
def _conf(spark, **kv):
    old = {k: spark.conf.get(k) for k in kv}
    try:
        for k, v in kv.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_null_subject_run_is_not_merged(spark):
    """A null subject and the non-null subject sorted right after it, with
    the same pred in one partition, stay two triples — the groupBy's null
    group.  (not_equal(null, 'c1') is null, not a boundary.)"""
    rows = [
        (None, 0, 0, 0, 1, "x", "BRAND"),
        (None, 1, 0, 0, 1, "y", "BRAND"),
        ("c1", 0, 0, 0, 1, "z", "BRAND"),
        ("c1", 0, 1, 2, 3, "w", "BRAND"),
    ]
    m = spark.createDataFrame(rows, MENTION_SCHEMA)
    with _conf(spark, **{"spark.sql.shuffle.partitions": "1"}):
        got = sorted(map(tuple, materialize_triples(m).collect()), key=str)
    assert got == sorted(
        [(None, "BRAND", "x y", None), ("c1", "BRAND", "z w", "c1")], key=str
    )


def test_runs_across_arrow_batch_edges(spark):
    """Three-row Arrow batches: a conversation with 8 BRAND mentions spans
    three batches, a one-mention conversation owns a partition alone, and
    most of the 16 partitions are empty — all oracle-equal."""
    turns = [
        ("c-long", 0, "VinaMilk Nestle VinaMilk Masan NSX: 1/2023"),
        ("c-long", 1, "ket qua Masan VinaMilk Nestle VinaMilk"),
        ("c-one", 0, "thuong hieu Masan"),
        ("c-mid", 0, "HSD: 2/2025 KL: 500g Nestle"),
        ("c-mid", 1, "Vissan 2kg"),
    ]
    t = spark.createDataFrame(turns, "conv_id string, turn_idx int, text string")
    with _conf(
        spark,
        **{
            "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
            "spark.sql.shuffle.partitions": "16",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        keyed = (
            detect_mentions_arrow(t)
            .filter(F.col("mention_type") != "OTHER")
            .select(F.col("conv_id").alias("subj"), F.col("mention_type").alias("pred"))
            .repartition("subj", "pred")
        )
        sizes = [
            r["count"]
            for r in keyed.groupBy(F.spark_partition_id().alias("p")).count().collect()
        ]
        got = sorted(map(tuple, materialize_triples(detect_mentions_arrow(t)).collect()))
    assert max(sizes) > 3 and 1 in sizes and len(sizes) < 16, sizes
    assert got == sorted(extract_triples(turns))


def test_kernel_matches_grouping_at_any_batch_size():
    """Randomized sorted partitions cut into batches of 1..6 rows, with
    empty batches, null subjects and null surfaces, against a plain
    group-and-join."""
    schema = pa.schema(
        [
            ("subj", pa.string()),
            ("pred", pa.string()),
            ("turn_idx", pa.int32()),
            ("pos", pa.int32()),
            ("surface", pa.string()),
        ]
    )
    rng = random.Random(7)
    for _ in range(300):
        rows = sorted(
            (
                (
                    rng.choice([None, "a", "b"]),
                    rng.choice(["BRAND", "NAME"]),
                    rng.randint(0, 3),
                    rng.randint(0, 3),
                    rng.choice(["s", "t", None]),
                )
                for _ in range(rng.randint(0, 20))
            ),
            key=lambda r: (r[0] is not None, r[0] or "", r[1:4], r[4] is not None, r[4] or ""),
        )
        want: dict = {}
        for subj, pred, _, _, surface in rows:
            want.setdefault((subj, pred), []).append(surface)
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
        batches = table.to_batches(max_chunksize=rng.randint(1, 6))
        batches.insert(rng.randint(0, len(batches)), pa.RecordBatch.from_pylist([], schema))
        got = [r for b in _triples_from_sorted(iter(batches)) for r in b.to_pylist()]
        assert all(r["conv_id"] == r["subj"] for r in got)
        assert {(r["subj"], r["pred"]): r["obj"] for r in got} == {
            k: " ".join(s for s in v if s is not None) for k, v in want.items()
        }, rows
        assert len(got) == len(want)
