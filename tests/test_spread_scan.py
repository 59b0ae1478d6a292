"""sources/scan.spread_scan decides from bytes AND parquet row groups: a
file of many byte splits but one row group still scans as one task."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kie_invoice_minimal_spark.sources import scan
from kie_invoice_minimal_spark.sources.scan import spread_scan


def _spreads(df) -> bool:
    return "RoundRobinPartitioning" in df._jdf.queryExecution().executedPlan().toString()


def _write(path, n_rows: int, row_group_size: int) -> None:
    rng = np.random.default_rng(0)
    t = pa.table({"x": rng.integers(0, 2**62, n_rows)})
    pq.write_table(t, path, row_group_size=row_group_size)


def test_single_row_group_file_larger_than_cores_splits_spreads(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    one_rg, many_rg = str(tmp_path / "one.parquet"), str(tmp_path / "many.parquet")
    _write(one_rg, 20_000, 20_000)
    _write(many_rg, 20_000, 20_000 // (2 * cores))
    assert pq.read_metadata(one_rg).num_row_groups == 1
    assert pq.read_metadata(many_rg).num_row_groups >= cores
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        # > cores x maxPartitionBytes: the byte estimate alone says "splits"
        assert (tmp_path / "one.parquet").stat().st_size > cores * 1024
        one = spread_scan(spark.read.parquet(one_rg), one_rg)
        many_df = spark.read.parquet(many_rg)
        many = spread_scan(many_df, many_rg)
        assert _spreads(one)
        assert many is many_df
        assert sorted(r.x for r in one.collect()) == sorted(
            pq.read_table(one_rg).column("x").to_pylist()
        )
        # a directory counts the row groups of its data files; marker and
        # checksum files are skipped, not read as footers
        d = tmp_path / "dir"
        d.mkdir()
        _write(str(d / "part-0.parquet"), 20_000, 20_000)
        (d / "_SUCCESS").write_bytes(b"")
        (d / ".part-0.parquet.crc").write_bytes(b"not parquet")
        assert _spreads(spread_scan(spark.read.parquet(str(d)), str(d)))
    finally:
        spark.conf.set(key, old)


def test_small_byte_estimate_decides_without_footers(spark, tmp_path, monkeypatch):
    """Fewer bytes than cores x maxPartitionBytes spreads on the byte
    estimate alone; no footer is read."""
    path = str(tmp_path / "small.parquet")
    _write(path, 1_000, 100)

    def no_footers(*_a):
        raise AssertionError("footers read")

    monkeypatch.setattr(scan, "_row_groups", no_footers)
    assert spark.sparkContext.defaultParallelism > 1
    assert _spreads(spread_scan(spark.read.parquet(path), path))
