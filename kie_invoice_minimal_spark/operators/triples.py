"""Triple emission & materialization — SURVEY.md §2.8 (O1/O2).

The reference's ``postprocess_write_info`` (``backend/kie/kie_utils.py:314-340``)
builds, per document and per non-OTHER label, the ' '-join of all member
texts in index order.  Here that is a sorted-run join emitting the
``triples`` table ``(subj, pred, obj, conv_id)``: one hash exchange on
``(subj, pred)``, a partition-local sort on ``(subj, pred, turn_idx, pos)``,
then a ``mapInArrow`` kernel that cuts each sorted partition into key runs
and ' '-joins every run with one pyarrow ``binary_join``.  The writer
partitions by ``(pred, subj_bucket)`` with an explicit salt column for hot
subjects (north rule: skew handled explicitly, not left to AQE alone).

Why not a groupBy: a conversation holds ~2 mentions per label, so a
``collect_list`` aggregate's partial step saves nothing and its object
buffers fall back to sort-based aggregation anyway; here the sort is paid
once and the join runs in C++ over whole Arrow batches.

Scale notes: the exchange keys on a high-cardinality composite — no skew
(conversations are bounded).  Skew appears at WRITE time (hot predicate
partitions, hot subjects); the salt splits a hot subject's rows across
SALT_BUCKETS files within its partition so no single task owns a
mega-partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rules import OTHER

SUBJ_BUCKETS = 64
SALT_BUCKETS = 8

_KEY = ["subj", "pred"]


def _run_starts(batch: pa.RecordBatch) -> np.ndarray:
    """Rows 1..n-1 whose (subj, pred) differs from the row before.  Null-safe:
    ``not_equal`` is null when either side is null, so a null <-> non-null
    change is made a boundary explicitly (null subjects form one group of
    their own, as under SQL GROUP BY)."""
    n = batch.num_rows
    change = np.zeros(n - 1, dtype=bool)
    for name in _KEY:
        col = batch.column(name)
        cur, prev = col.slice(1), col.slice(0, n - 1)
        ne = pc.fill_null(pc.not_equal(cur, prev), False)
        change |= ne.to_numpy(zero_copy_only=False)
        if col.null_count:
            is_null = pc.is_null(col).to_numpy(zero_copy_only=False)
            change |= is_null[1:] != is_null[:-1]
    return np.flatnonzero(change) + 1


def _join_runs(surface: pa.Array, starts: np.ndarray, end: int) -> pa.Array:
    """' '-join of ``surface[starts[i]:starts[i+1]]``, the last run ending at
    ``end``; null surfaces are skipped, as ``array_join`` skips them."""
    bounds = np.append(starts, end)
    if surface.null_count:
        valid = pc.is_valid(surface).to_numpy(zero_copy_only=False)
        bounds = np.concatenate(([0], np.cumsum(valid)))[bounds]
        surface = surface.drop_null()
    runs = pa.ListArray.from_arrays(pa.array(bounds, pa.int32()), surface)
    return pc.binary_join(runs, " ")


def _triples_batch(key: pa.RecordBatch, obj: pa.Array) -> pa.RecordBatch:
    subj, pred = key.columns
    return pa.RecordBatch.from_arrays(
        [subj, pred, obj, subj], names=["subj", "pred", "obj", "conv_id"]
    )


def _close_carry(key: pa.RecordBatch, carry: list[pa.Array]) -> pa.RecordBatch:
    surface = pa.concat_arrays(carry)
    return _triples_batch(key, _join_runs(surface, np.zeros(1, np.int64), len(surface)))


def _triples_from_sorted(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """One triple per (subj, pred) run of a partition sorted by
    (subj, pred, turn_idx, pos).  The run still open at a batch's end is
    carried as surface chunks; the next batch compares only its first row
    with the carried key, so each row is compared once and the carry is
    concatenated once, when its run closes."""
    key = None  # 1-row (subj, pred) batch of the open run
    carry: list[pa.Array] = []  # its surfaces, one chunk per batch it spans
    for b in batches:
        n = b.num_rows
        if n == 0:
            continue
        keys, surface = b.select(_KEY), b.column("surface")
        starts = np.concatenate(([0], _run_starts(b)))
        if key is not None and keys.slice(0, 1).equals(key):
            head_end = starts[1] if len(starts) > 1 else n
            carry.append(surface.slice(0, head_end))
            starts = starts[1:]
            if not len(starts):
                continue
        if key is not None:
            yield _close_carry(key, carry)
        done = starts[:-1]
        if len(done):
            yield _triples_batch(
                keys.take(done), _join_runs(surface, done, starts[-1])
            )
        last = int(starts[-1])
        key, carry = keys.slice(last, 1), [surface.slice(last)]
    if key is not None:
        yield _close_carry(key, carry)


def materialize_triples(mentions: DataFrame, subj_col: str = "conv_id") -> DataFrame:
    """(subj, pred, obj, conv_id): obj = surfaces ' '-joined in stable
    (turn_idx, pos) order; conv_id repeats subj.  One shuffle (the
    repartition on (subj, pred)), a partition-local sort, then the Arrow
    run join.  ``surface`` closes the sort key so duplicate
    (turn_idx, pos) rows still join in one deterministic order."""
    subj_t = mentions.schema[subj_col].dataType.simpleString()
    return (
        mentions.filter(F.col("mention_type") != OTHER)
        # shuffle only what the join needs — span offsets stay behind
        .select(
            F.col(subj_col).alias("subj"),
            F.col("mention_type").alias("pred"),
            "turn_idx",
            "pos",
            "surface",
        )
        .repartition(*_KEY)
        .sortWithinPartitions(*_KEY, "turn_idx", "pos", "surface")
        .mapInArrow(
            _triples_from_sorted,
            f"subj {subj_t}, pred string, obj string, conv_id {subj_t}",
        )
    )


def with_partition_keys(triples: DataFrame) -> DataFrame:
    """Add the physical layout columns: subj_bucket = hash(subj) % K and a
    deterministic salt spreading hot subjects (hash of the full row — stable,
    no rand())."""
    return triples.withColumn(
        "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(SUBJ_BUCKETS)).cast("int")
    ).withColumn(
        "salt",
        F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(SALT_BUCKETS)).cast("int"),
    )


def write_triples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize partitioned by (pred, subj_bucket); repartition by
    (pred, subj_bucket, salt) first so a hot subject's rows land on
    SALT_BUCKETS tasks instead of one."""
    (
        with_partition_keys(triples)
        .repartition("pred", "subj_bucket", "salt")
        .drop("salt")
        .write.mode(mode)
        .partitionBy("pred", "subj_bucket")
        .parquet(path)
    )


# --- incremental KG maintenance (novel-fact extraction) -----------------------------

KG_INCR_MOD, KG_INCR_REM = 5, 0  # md5-gated conv split: slot 0 = arriving batch


def kg_triples_incremental(spark, sf_dir: str):
    """(subj, pred, obj, conv_id): the NOVEL triples an arriving batch of
    conversations adds to the KG — the daily-maintenance shape (north
    star: resumable, incremental graph materialization).  Conversations
    are md5-gated into batch (slot KG_INCR_REM) vs existing corpus, the
    same deterministic split discipline as dd_incremental
    (dedup.py:836); a batch triple is SUPPRESSED when its FACT
    fingerprint — md5(pred, obj), i.e. the label + ordered surface list,
    independent of which conversation asserted it — already exists in
    the corpus.  On the sf0.01 fixture 160 batch triples reduce to 16
    novel facts (duplicated synthetic conversations assert the same
    facts).

    Scale shape: only 60-bit fact fingerprints cross the anti-join
    shuffle (never the obj strings); the corpus side is
    distinct-fact-sized.  On a real deployment the corpus fingerprint
    table is the KG's fact index (maintained incrementally, bucketed by
    fp) and the anti-join is fp-co-located — no corpus rescan per batch.
    Reference analog: the incremental label-store update,
    scripts/prepare_data.py:100-151."""
    from ..plans.pipeline import extract_triples_df
    from ..sources.transcripts import transcripts_from_documents
    from .text_analysis import mdhash_spark

    trip = extract_triples_df(
        transcripts_from_documents(spark, sf_dir), engine="arrow"
    )
    slot = F.pmod(mdhash_spark(F.col("conv_id")), F.lit(KG_INCR_MOD))
    fp = mdhash_spark(F.concat_ws("\x01", "pred", "obj"))
    t = trip.withColumn("slot", slot).withColumn("fp", fp)
    corpus = t.filter(F.col("slot") != KG_INCR_REM).select("fp").distinct()
    return (
        t.filter(F.col("slot") == KG_INCR_REM)
        .join(corpus, "fp", "left_anti")
        .select("subj", "pred", "obj", "conv_id")
    )


def kg_triples_incremental_sql(triples_sql: str) -> str:
    from .text_analysis import MDHASH_SQL

    fact_fp = MDHASH_SQL("concat_ws(chr(1), pred, obj)")
    conv_fp = MDHASH_SQL("conv_id")
    return f"""
WITH trip AS ({triples_sql}),
fps AS (
  SELECT *, {fact_fp} AS fp, {conv_fp} % {KG_INCR_MOD} AS slot FROM trip
)
SELECT subj, pred, obj, conv_id FROM fps b
WHERE slot = {KG_INCR_REM}
  AND NOT EXISTS (
    SELECT 1 FROM fps c WHERE c.slot <> {KG_INCR_REM} AND c.fp = b.fp
  )
"""
