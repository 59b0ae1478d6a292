"""The worker hook of ``operators/arrow_groups``: ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed, and every
``mapInArrow`` of the package runs through the module that installs it."""

from __future__ import annotations

import importlib
import statistics
import sys
import time
import zipfile
import zipimport
from pathlib import Path
from unittest import mock

import pyarrow as pa
import pytest

import kie_invoice_minimal_spark
from kie_invoice_minimal_spark.operators import arrow_groups


@pytest.fixture
def stock_zipimport(monkeypatch):
    """The stock ``zipimporter.invalidate_caches`` and no stamps, both
    restored after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", arrow_groups._STOCK_INVALIDATE
    )
    monkeypatch.setattr(arrow_groups, "_zip_stamps", {})
    yield
    for name in ("zc_first", "zc_second", "zc_third"):
        sys.modules.pop(name, None)


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_hook_rereads_only_changed_archives(tmp_path, monkeypatch, stock_zipimport):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("zc_first").X == 1

    arrow_groups.worker_setup()
    arrow_groups.worker_setup()
    assert zipimport.zipimporter.invalidate_caches is arrow_groups._stamped_invalidate
    assert arrow_groups._STOCK_INVALIDATE is not arrow_groups._stamped_invalidate

    with mock.patch.object(zipimport, "_read_directory", wraps=zipimport._read_directory) as reads:
        importlib.invalidate_caches()
        assert reads.call_count == 0

        # a second module changes the archive's size: re-read, importable
        _write_zip(archive, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.call_count == 1
        assert importlib.import_module("zc_second").Y == 2
        importlib.invalidate_caches()
        assert reads.call_count == 1

        # a vanished archive takes the stock path: dropped from the cache,
        # and its modules no longer import
        archive.unlink()
        importlib.invalidate_caches()
        assert reads.call_count == 2
    assert str(archive) not in zipimport._zip_directory_cache
    assert str(archive) not in arrow_groups._zip_stamps
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_third")


def test_workers_skip_the_archive_rescan(spark):
    def _probe(batch: pa.RecordBatch) -> pa.RecordBatch:
        """Runs in a Python worker: is the hook installed, how many archives are
        cached, and the fastest of five ``invalidate_caches()`` calls."""
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            times.append(time.perf_counter() - t0)
        return pa.RecordBatch.from_pydict(
            {
                "installed": [zipimport.zipimporter.invalidate_caches is arrow_groups._stamped_invalidate],
                "archives": [len(zipimport._zip_directory_cache)],
                "invalidate_ms": [1000 * min(times)],
            }
        )

    rows = arrow_groups.map_batches(
        spark.range(0, 4, 1, 4),
        _probe,
        "installed boolean, archives bigint, invalidate_ms double",
    ).collect()
    assert len(rows) == 4
    assert all(r.installed for r in rows), rows
    # the workers import pyspark from zip archives, so the probe measures
    # the hooked re-read rather than an empty cache
    assert min(r.archives for r in rows) >= 1, rows
    assert statistics.median(r.invalidate_ms for r in rows) <= 1.0, rows
    # the driver process never installs it
    assert zipimport.zipimporter.invalidate_caches is not arrow_groups._stamped_invalidate


def test_every_map_in_arrow_runs_through_arrow_groups():
    root = Path(kie_invoice_minimal_spark.__file__).parent
    callers = sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if ".mapInArrow(" in p.read_text(encoding="utf-8")
    )
    assert callers == ["operators/arrow_groups.py"]
