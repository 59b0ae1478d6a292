"""scripts/run_pipeline.py rejects option combinations it cannot honour
before the Spark session starts."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import run_pipeline  # noqa: E402


def test_native_engine_with_checkpoint_root_exits_before_session(monkeypatch, capsys, tmp_path):
    """The staged pipeline always detects with Arrow, so asking it for the
    native engine is an error, not a silently ignored flag."""

    def no_session(*_a, **_k):
        raise AssertionError("get_spark called before the options were checked")

    monkeypatch.setattr(run_pipeline, "get_spark", no_session)
    monkeypatch.setattr(
        sys,
        "argv",
        ["run_pipeline.py", "--synth", "10", "--engine", "native",
         "--checkpoint-root", str(tmp_path / "ckpt")],
    )
    with pytest.raises(SystemExit) as exc:
        run_pipeline.main()
    assert exc.value.code == 2
    assert "--engine native" in capsys.readouterr().err
