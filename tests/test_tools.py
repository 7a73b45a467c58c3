"""Command-line contracts of the measurement tools in ``tools/``."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

from training_datawarehouse_spark import session

ROOT = Path(__file__).resolve().parents[1]


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, ROOT / "tools" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_scale100x_rejects_unknown_flag_before_spark(monkeypatch):
    """A flag the probe does not know exits non-zero before any Spark
    session starts, instead of running the default sweep and exiting
    0 having measured nothing."""
    tool = _load_tool("scale100x")

    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", ["scale100x.py", "--graph", "--bogus"])
    with pytest.raises(SystemExit) as exc:
        tool.main()
    assert exc.value.code not in (0, None)
    assert "--bogus" in str(exc.value.code)
