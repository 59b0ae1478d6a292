"""The whole-group Arrow kernel behind extract_triples_df and
materialize_triples: null-safe group boundaries, groups that span Arrow
batch edges, and turns or mentions in any order within a group, checked
against the pure-Python oracle."""

from __future__ import annotations

import random
from contextlib import contextmanager

import pyarrow as pa

from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.arrow_groups import grouped_batches
from kie_invoice_minimal_spark.operators.mention_detect import (
    MENTION_SCHEMA,
    detect_mentions_arrow,
)
from kie_invoice_minimal_spark.operators.triples import (
    _mention_triples,
    materialize_triples,
)
from kie_invoice_minimal_spark.oracle import extract_triples
from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df

TURNS_DDL = "conv_id string, turn_idx int, text string"


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


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=str)


def test_null_subject_run_is_not_merged(spark):
    """A null subject and the non-null subject sorted right after it, with
    the same pred in one partition and one Arrow batch, stay two triples —
    the groupBy's null group.  (not_equal(null, 'c1') is null, not a boundary.)  The same
    holds for a null conv_id on the turn-keyed plan."""
    rows = [
        (None, 0, 0, 0, 1, "x", "BRAND"),
        (None, 1, 0, 0, 1, "y", "BRAND"),
        ("c1", 0, 0, 0, 1, "z", "BRAND"),
        ("c1", 0, 1, 2, 3, "w", "BRAND"),
    ]
    turns = [(None, 0, "Masan"), (None, 1, "Nestle"), ("c1", 0, "Vissan Masan")]
    with _conf(spark, **{"spark.sql.shuffle.partitions": "1"}):
        got = _rows(materialize_triples(spark.createDataFrame(rows, MENTION_SCHEMA)))
        got_turns = _rows(extract_triples_df(spark.createDataFrame(turns, TURNS_DDL)))
    assert got == sorted(
        [(None, "BRAND", "x y", None), ("c1", "BRAND", "z w", "c1")], key=str
    )
    assert got_turns == sorted(
        [(None, "BRAND", "Masan Nestle", None), ("c1", "BRAND", "Vissan Masan", "c1")],
        key=str,
    )


def _partition_sizes(df, key: str) -> list[int]:
    p = df.select(key).repartition(key).groupBy(F.spark_partition_id().alias("p"))
    return [r["count"] for r in p.count().collect()]


def test_runs_across_arrow_batch_edges(spark):
    """Three-row Arrow batches: a conversation of 9 turns spans three
    transcript batches, its turns arrive out of turn_idx order and one
    (conv_id, turn_idx) is delivered twice; a one-turn, one-mention
    conversation owns a partition alone and most of the 16 partitions are
    empty.  Both entry points are oracle-equal."""
    turns = [
        ("c-long", 3, "VinaMilk Nestle Masan"),
        ("c-long", 0, "VinaMilk Nestle VinaMilk Masan NSX: 1/2023"),
        ("c-long", 5, "KL: 500g Vissan"),
        ("c-long", 1, "ket qua Masan VinaMilk Nestle VinaMilk"),
        ("c-long", 7, "HSD: 2/2025 Nestle"),
        ("c-long", 2, "Vissan 2kg Masan"),
        ("c-long", 6, "Masan Masan"),
        ("c-long", 1, "ket qua Masan VinaMilk Nestle VinaMilk"),
        ("c-long", 4, "thuong hieu Nestle"),
        ("c-one", 0, "thuong hieu Masan"),
        ("c-mid", 1, "Vissan 2kg"),
        ("c-mid", 0, "HSD: 2/2025 KL: 500g Nestle"),
    ]
    t = spark.createDataFrame(turns, TURNS_DDL)
    with _conf(
        spark,
        **{
            "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
            "spark.sql.shuffle.partitions": "16",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        turn_sizes = _partition_sizes(t, "conv_id")
        mention_sizes = _partition_sizes(detect_mentions_arrow(t), "conv_id")
        got = _rows(extract_triples_df(t))
        got_mentions = _rows(materialize_triples(detect_mentions_arrow(t)))
    assert max(turn_sizes) > 6 and 1 in turn_sizes and len(turn_sizes) < 16, turn_sizes
    assert max(mention_sizes) > 6 and 1 in mention_sizes, mention_sizes
    want = sorted(map(tuple, extract_triples(turns)), key=str)
    assert got == want
    assert got_mentions == want


def test_kernel_matches_grouping_at_any_batch_size():
    """Randomized partitions clustered by subject but shuffled within it,
    cut into batches of 1..6 rows, with empty batches and null subjects,
    turn indices and surfaces, against a plain group-and-join; no subject
    is emitted in two batches."""
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
        clusters: dict = {}
        for _ in range(rng.randint(0, 20)):
            row = (
                rng.choice([None, "a", "b", "c"]),
                rng.choice(["BRAND", "NAME"]),
                rng.choice([None, 0, 1, 2, 3]),
                rng.randint(0, 3),
                rng.choice(["s", "t", None]),
            )
            clusters.setdefault(row[0], []).append(row)
        order = list(clusters)
        rng.shuffle(order)
        rows = []
        for subj in order:
            rng.shuffle(clusters[subj])
            rows += clusters[subj]

        want: dict = {}
        for subj, pred, turn_idx, pos, surface in sorted(
            rows,
            key=lambda r: (r[2] is not None, r[2] or 0, r[3], r[4] is not None, r[4] or ""),
        ):
            want.setdefault((subj, pred), []).append(surface)
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
        batches = table.to_batches(max_chunksize=rng.randint(1, 6))
        for _ in range(2):
            batches.insert(rng.randint(0, len(batches)), pa.RecordBatch.from_pylist([], schema))

        out = list(grouped_batches(iter(batches), "subj", _mention_triples))
        subjects = [set(b.column("subj").to_pylist()) for b in out]
        assert sum(map(len, subjects)) == len(set().union(*subjects)), rows
        got = [r for b in out for r in b.to_pylist()]
        assert all(r["conv_id"] == r["subj"] for r in got)
        assert {(r["subj"], r["pred"]): r["obj"] for r in got} == {
            k: " ".join(s for s in v if s is not None) for k, v in want.items()
        }, rows
        assert len(got) == len(want)
