"""Arrow batch maps: every ``mapInArrow`` of the package crosses here.

``map_batches(rows, fn, schema)`` maps each Arrow batch of ``rows`` with
``fn``.  ``map_groups(rows, key, fn, schema)`` is a hash exchange on
``key``, a partition-local sort that clusters it, then one ``mapInArrow``
whose batch stream is re-cut so that every key group lies whole in exactly
one batch; ``fn`` maps each such batch.  The triple join (``triples.py``)
and the GCN scorer (``gcn_scorer.py``) both run on it: a batch is a
disjoint union of whole groups, so a vectorized kernel handles thousands of
small groups per call instead of one pandas frame per group (the point of
*Accelerating Python UDFs in Vectorized Query Execution*, CIDR 2022).

Both start with :func:`worker_setup`.  pyspark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11 every ``zipimporter`` then re-reads its archive's whole
directory: ``pyspark.zip``, the py4j zip and the spark-core jar, 16
importers in a worker, 110-260 ms per task.  ``worker_setup`` makes that
re-read conditional on the archive having changed
(:func:`_stamped_invalidate`), once per worker process, from inside the UDF
body, so the driver never runs it.  A custom ``spark.python.daemon.module`` that preloads instead cannot
work under ``--py-files``: the daemon starts before those files reach the
path.  The first task of each worker still pays the re-read.

Scale notes: a re-cut batch is at most one Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) plus one group, so
groups must be bounded, as conversations and capped candidate blocks are.
"""

from __future__ import annotations

import os
import zipimport
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame

BatchFn = Callable[[pa.RecordBatch], "pa.RecordBatch | None"]
BatchStream = Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) of the directory last read from it
_zip_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamped_invalidate(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that reuses the directory in
    ``zipimport._zip_directory_cache`` while the archive's (mtime, size)
    still match the last read; a changed or vanished archive takes the
    stock re-read, which also drops a vanished archive from the cache."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _zip_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _STOCK_INVALIDATE(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _zip_stamps[self.archive] = stamp
    else:
        _zip_stamps.pop(self.archive, None)


def worker_setup() -> None:
    """Install :func:`_stamped_invalidate` once per process, stamping the
    archives already cached (read by this task's own invalidate).  Runs in
    the Python worker; idempotent."""
    if zipimport.zipimporter.invalidate_caches is _stamped_invalidate:
        return
    for archive in zipimport._zip_directory_cache:
        stamp = _stamp(archive)
        if stamp is not None:
            _zip_stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate


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
    """``fn`` over every re-cut batch of a stream clustered on ``key``."""
    return _mapped(whole_groups(batches, key), fn)


def _mapped(batches: Iterator[pa.RecordBatch], fn: BatchFn) -> Iterator[pa.RecordBatch]:
    """``fn`` over every batch; ``None`` and empty outputs are dropped."""
    for b in batches:
        out = fn(b)
        if out is not None and out.num_rows:
            yield out


def _map_stream(rows: DataFrame, stream: BatchStream, schema: str) -> DataFrame:
    """The package's one ``mapInArrow``: :func:`worker_setup`, then
    ``stream`` over the partition's batches."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        worker_setup()
        return stream(batches)

    return rows.mapInArrow(run, schema)


def map_batches(rows: DataFrame, fn: BatchFn, schema: str) -> DataFrame:
    """``fn`` over every Arrow batch of ``rows``: a narrow map, ``schema``
    is its output schema."""
    return _map_stream(rows, lambda batches: _mapped(batches, fn), schema)


def map_groups(rows: DataFrame, key: str, fn: BatchFn, schema: str) -> DataFrame:
    """``fn`` over whole ``key`` groups of ``rows``: one hash exchange on
    ``key``, a partition-local sort, one ``mapInArrow`` (``schema`` is its
    output schema).  No state crosses batches but the re-cut's carry."""
    return _map_stream(
        rows.repartition(key).sortWithinPartitions(key),
        lambda batches: grouped_batches(batches, key, fn),
        schema,
    )
