"""Scale-adaptive scan fan-out (optimization guide §2.5 "input skew" /
§6 input split sizing).

The driver's test tables are single-row-group parquet files, so a bare
``spark.read.parquet`` yields a ONE-task scan no matter how many cores the
session has — and every narrow transformation chained onto the scan
(shingle hashing, hyperplane signatures, the Arrow detector) runs on one
core while the other 31 idle.  ``maxPartitionBytes``/``minPartitionNum``
cannot fix this: byte-range splits of a single row group collapse to the
one split containing the row-group start.

``spread_scan`` repartitions the scan output across the session's default
parallelism ONLY when the file metadata says the scan itself cannot reach
it.  Scan tasks that do work are estimated as the smaller of the on-disk
size over ``spark.sql.files.maxPartitionBytes`` and the parquet footers'
row-group count (a byte split holding no row-group start reads nothing,
so a large single-row-group file is still one task).  Both come from
driver-side metadata (os.stat, ``pyarrow.parquet.read_metadata``) — no
job, no plan materialization, nothing collected.  On a production corpus the
estimate exceeds the core count by orders of magnitude and the helper is
an exact no-op — the adaptive guard is what keeps this from being a
local-only tuning: a cluster-scale scan already has its parallelism, and
an unconditional repartition there would be a pure extra shuffle of the
payload (guide §2.4 "accidental exchanges").

The round-robin exchange this inserts at small scale carries the scan's
PRUNED columns only (callers select before spreading), costs one extra
tiny stage, and is deterministic in results: every registered operator is
partition-layout-independent (exact-integer aggregates, explicitly
ordered windows), which the cross-partition-count gates (check_correctness
at local[8]/8 vs the driver at local[32]/32) already exercise.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _data_files(path: str) -> list[str] | None:
    """The data files of a parquet file or directory, skipping names that
    start with ``_`` or ``.`` as Spark's file index does (``_SUCCESS``,
    ``.crc``).  ``None`` for a path that is not on the local filesystem."""
    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files += [os.path.join(root, f) for f in names if not f.startswith(("_", "."))]
        return files
    if os.path.isfile(path):
        return [path]
    return None


def _max_partition_bytes(spark) -> int:
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    if raw is None:
        return _DEFAULT_MAX_PARTITION_BYTES
    s = str(raw).lower().rstrip("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    try:
        return int(s) * mult
    except ValueError:
        return _DEFAULT_MAX_PARTITION_BYTES


def _row_groups(files: list[str], cap: int) -> int:
    """Row groups in ``files`` from the parquet footers, counting stops at
    ``cap``.  A file that cannot be read as parquet reports ``cap``."""
    import pyarrow.parquet as pq

    n = 0
    try:
        for f in files:
            n += pq.read_metadata(f).num_row_groups
            if n >= cap:
                break
    except (OSError, ValueError):  # pyarrow's ArrowInvalid is a ValueError
        return cap
    return n


def spread_scan(df: DataFrame, path: str) -> DataFrame:
    """Fan ``df`` (a scan of ``path``, already column-pruned) out to the
    session's default parallelism iff the file has too few bytes or too
    few row groups for the scan to get there on its own.  No-op (returns
    ``df`` unchanged, no plan node added) whenever the estimated task
    count already covers the cores."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    files = _data_files(path)
    if files is None:
        # non-local path (hdfs/s3): assume the scan splits itself; the
        # spread is a local-bench affordance, not a cluster requirement
        return df
    try:
        n_bytes = sum(os.path.getsize(f) for f in files)
    except OSError:
        return df
    # bytes first: a byte estimate below the cores decides without a footer read
    if (
        n_bytes // _max_partition_bytes(spark) + 1 >= cores
        and _row_groups(files, cores) >= cores
    ):
        return df
    return df.repartition(cores)
