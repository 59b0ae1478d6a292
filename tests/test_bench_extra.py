"""bench_extra.py checks every query name before the Spark session starts:
an unknown name must not abort a run after earlier names were timed."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench_extra  # noqa: E402


def test_unknown_name_exits_before_session(monkeypatch, capsys):
    def no_session(*_a, **_k):
        raise AssertionError("get_spark called before the names were checked")

    monkeypatch.setattr(bench_extra, "get_spark", no_session)
    monkeypatch.setattr(
        sys, "argv", ["bench_extra.py", "kg_triples", "kg_pipeline_arrow"]
    )
    with pytest.raises(SystemExit) as exc:
        bench_extra.main()
    assert exc.value.code != 0
    assert "kg_pipeline_arrow" in capsys.readouterr().err
