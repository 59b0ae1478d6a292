"""Whole-group Arrow batches: the one grouped Python crossing of the package.

``map_groups(rows, key, fn, schema)`` is a hash exchange on ``key``, a
partition-local sort that clusters it, then one ``mapInArrow`` whose batch
stream is re-cut so that every key group lies whole in exactly one batch;
``fn`` maps each such batch.  The triple join (``triples.py``) and the GCN
scorer (``gcn_scorer.py``) both run on it: a batch is a disjoint union of
whole groups, so a vectorized kernel handles thousands of small groups per
call instead of one pandas frame per group (the point of *Accelerating
Python UDFs in Vectorized Query Execution*, CIDR 2022).

Scale notes: a re-cut batch is at most one Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) plus one group, so
groups must be bounded, as conversations and capped candidate blocks are.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame

BatchFn = Callable[[pa.RecordBatch], "pa.RecordBatch | None"]


def run_starts(batch: pa.RecordBatch, key: tuple[str, ...]) -> np.ndarray:
    """Rows 1..n-1 whose ``key`` columns differ from the row before.
    Null-safe: ``not_equal`` is null when either side is null, so a
    null <-> non-null change is made a boundary explicitly (null keys form
    one group of their own, as under SQL GROUP BY)."""
    n = batch.num_rows
    change = np.zeros(n - 1, dtype=bool)
    for name in key:
        col = batch.column(name)
        cur, prev = col.slice(1), col.slice(0, n - 1)
        ne = pc.fill_null(pc.not_equal(cur, prev), False)
        change |= ne.to_numpy(zero_copy_only=False)
        if col.null_count:
            is_null = pc.is_null(col).to_numpy(zero_copy_only=False)
            change |= is_null[1:] != is_null[:-1]
    return np.flatnonzero(change) + 1


def whole_groups(batches: Iterator[pa.RecordBatch], key: str) -> Iterator[pa.RecordBatch]:
    """Re-cut a batch stream clustered on ``key`` so that every key group
    lies whole in exactly one output batch.  The group still open at a
    batch's end is carried as chunks and concatenated once, when the key
    changes; every row is copied once, so the carry stays linear."""
    carry: list[pa.RecordBatch] = []  # the open group's rows
    for b in batches:
        if not b.num_rows:
            continue
        starts = run_starts(b, (key,))
        cut = int(starts[-1]) if len(starts) else 0  # the last group's start
        if not cut and carry and carry[0].column(key)[:1].equals(b.column(key)[:1]):
            carry.append(b)
            continue
        done = carry + [b.slice(0, cut)]
        carry = [b.slice(cut)]
        if sum(c.num_rows for c in done):
            yield pa.Table.from_batches(done).combine_chunks().to_batches()[0]
    if carry:
        yield pa.Table.from_batches(carry).combine_chunks().to_batches()[0]


def grouped_batches(
    batches: Iterator[pa.RecordBatch], key: str, fn: BatchFn
) -> Iterator[pa.RecordBatch]:
    """``fn`` over every re-cut batch of a stream clustered on ``key``;
    ``None`` and empty outputs are dropped."""
    for b in whole_groups(batches, key):
        out = fn(b)
        if out is not None and out.num_rows:
            yield out


def map_groups(rows: DataFrame, key: str, fn: BatchFn, schema: str) -> DataFrame:
    """``fn`` over whole ``key`` groups of ``rows``: one hash exchange on
    ``key``, a partition-local sort, one ``mapInArrow`` (``schema`` is its
    output schema).  No state crosses batches but the re-cut's carry."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return grouped_batches(batches, key, fn)

    return rows.repartition(key).sortWithinPartitions(key).mapInArrow(run, schema)
