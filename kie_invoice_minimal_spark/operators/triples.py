"""Triple emission & materialization — SURVEY.md §2.8 (O1/O2).

The reference's ``postprocess_write_info`` (``backend/kie/kie_utils.py:314-340``)
builds, per document and per non-OTHER label, the ' '-join of all member
texts in index order.  Here that is a whole-subject Arrow join emitting the
``triples`` table ``(subj, pred, obj, conv_id)``: one hash exchange on the
subject, a partition-local sort that clusters it, then one ``mapInArrow``
kernel (``arrow_groups.map_groups``) that re-cuts the batch stream so every
subject is whole in one batch and joins that batch with
:func:`_join_sorted`.  The join sorts integer keys only — (subject run,
pred code, turn_idx, pos), with the surface compared only where all four
tie (duplicate (conv_id, turn_idx) rows) — and ' '-joins every
(subj, pred) run with one pyarrow ``binary_join``; subj and pred strings
are gathered once per triple.  The flagship
(``plans/pipeline.extract_triples_df``) keys the detector's tokens directly;
:func:`materialize_triples` maps a ``mentions`` table's subj runs and pred
strings onto the same keys.  The writer partitions by ``(pred, subj_bucket)``
with an explicit salt column for hot subjects (north rule: skew handled
explicitly, not left to AQE alone).

Why not a groupBy: a conversation holds ~2 mentions per label, so a
``collect_list`` aggregate's partial step saves nothing and its object
buffers fall back to sort-based aggregation anyway; here the join runs in
C++ over whole Arrow batches and Spark only clusters the subject.

Scale notes: the exchange keys on the conversation, and conversations are
bounded (≤ thousands of turns), so a re-cut batch is at most one Arrow batch
plus one conversation.  Skew appears at WRITE time (hot predicate
partitions, hot subjects); the salt splits a hot subject's rows across
SALT_BUCKETS files within its partition so no single task owns a
mega-partition.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rules import OTHER
from .arrow_groups import BatchFn, map_groups, run_starts

SUBJ_BUCKETS = 64
SALT_BUCKETS = 8

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


def int_keys(col: pa.Array) -> list[np.ndarray]:
    """Sort keys ordering an integer column as Spark sorts it, nulls first:
    the values, preceded by a validity key when the column holds nulls."""
    values = pc.fill_null(col, 0).to_numpy().astype(np.int64)
    if not col.null_count:
        return [values]
    return [pc.is_valid(col).to_numpy(zero_copy_only=False), values]


def _group_ids(subj: pa.Array) -> np.ndarray:
    """Run number of every row of a column clustered on its values."""
    gid = np.zeros(len(subj), dtype=np.int64)
    gid[run_starts(pa.RecordBatch.from_arrays([subj], ["subj"]), ("subj",))] = 1
    return np.cumsum(gid)


def _changes(k: np.ndarray) -> np.ndarray:
    """``k[i + 1] != k[i]`` for every adjacent pair."""
    return k[1:] != k[:-1]


def _join_sorted(
    subj: pa.Array,
    at: np.ndarray,
    pred: np.ndarray,
    preds: pa.Array,
    order: list[np.ndarray],
    surface: pa.Array,
    surface_at: np.ndarray,
) -> pa.RecordBatch:
    """The triples of keyed mentions, one per (subject, pred) run, ordered
    by subject run, then pred.  Mention ``i`` belongs to the subject
    ``subj[at[i]]`` (``subj`` clustered on its values), has the pred
    ``preds[pred[i]]`` (codes ordered as the strings), the order keys
    ``order[k][i]`` (most significant first) and the surface
    ``surface[surface_at[i]]``.  A run's obj ' '-joins its surfaces in key
    order; mentions equal on every key are ordered by surface, nulls first."""
    keys = [_group_ids(subj)[at], pred, *order]
    idx = np.lexsort(keys[::-1])
    changed = [_changes(k[idx]) for k in keys]
    run = np.concatenate(([True], changed[0] | changed[1]))
    if not np.logical_or.reduce(changed).all():
        rank = pc.rank(surface, null_placement="at_start", tiebreaker="dense")
        keys.append(rank.to_numpy()[surface_at])
        idx = np.lexsort(keys[::-1])
    starts = np.flatnonzero(run)
    subj_out = subj.take(at[idx[starts]])
    return pa.RecordBatch.from_arrays(
        [
            subj_out,
            preds.take(pred[idx[starts]]),
            _join_runs(surface.take(surface_at[idx]), starts, len(idx)),
            subj_out,
        ],
        names=["subj", "pred", "obj", "conv_id"],
    )


def _mention_triples(m: pa.RecordBatch) -> pa.RecordBatch | None:
    """:func:`_join_sorted` over a batch of (subj, pred, turn_idx, pos,
    surface) rows holding whole subjects, clustered, with non-null preds:
    each pred string is coded by its rank among the batch's distinct
    preds."""
    if not m.num_rows:
        return None
    encoded = pc.dictionary_encode(m.column("pred"))
    by_string = pc.sort_indices(encoded.dictionary).to_numpy()
    rank = np.empty(len(by_string), dtype=np.int64)
    rank[by_string] = np.arange(len(by_string))
    rows = np.arange(m.num_rows)
    return _join_sorted(
        m.column("subj"),
        rows,
        rank[encoded.indices.to_numpy()],
        encoded.dictionary.take(by_string),
        [*int_keys(m.column("turn_idx")), *int_keys(m.column("pos"))],
        m.column("surface"),
        rows,
    )


def triples_by_group(rows: DataFrame, key: str, to_triples: BatchFn) -> DataFrame:
    """The plan behind both triple entry points: :func:`map_groups` on the
    subject column ``key``, ``to_triples`` mapping each batch of whole
    subjects to its (subj, pred, obj, conv_id) rows."""
    subj_t = rows.schema[key].dataType.simpleString()
    return map_groups(
        rows,
        key,
        to_triples,
        f"subj {subj_t}, pred string, obj string, conv_id {subj_t}",
    )


def materialize_triples(mentions: DataFrame) -> DataFrame:
    """(subj, pred, obj, conv_id) from a ``mentions`` table: subj = conv_id,
    obj = the label's surfaces ' '-joined in (turn_idx, pos, surface)
    order, conv_id repeats subj.  One shuffle (the repartition on subj) of
    only the columns the join needs, then the whole-subject Arrow join."""
    keyed = mentions.filter(F.col("mention_type") != OTHER).select(
        F.col("conv_id").alias("subj"),
        F.col("mention_type").alias("pred"),
        "turn_idx",
        "pos",
        "surface",
    )
    return triples_by_group(keyed, "subj", _mention_triples)


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
