"""The interleaved A/B harness (tools/ab_interleaved.py) must report why
a worker died, not only that it did."""

import importlib.util
import os

import pytest


def _load():
    path = os.path.join(os.path.dirname(__file__), "..", "tools",
                        "ab_interleaved.py")
    spec = importlib.util.spec_from_file_location("ab_interleaved", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dead_worker_error_carries_its_traceback(tmp_path):
    ab = _load()
    # a checkout that does not exist: the worker dies at its chdir,
    # before any Spark session is built
    w = ab.Worker("A", str(tmp_path / "missing"))
    try:
        with pytest.raises(RuntimeError, match="FileNotFoundError"):
            w.ping()
    finally:
        w.close()
