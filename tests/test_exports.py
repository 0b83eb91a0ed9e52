"""Every name a subpackage lists in ``__all__`` must import from it."""

from __future__ import annotations

import importlib

import pytest

PACKAGES = ["functions", "operators", "plans", "sources", "streaming"]


@pytest.mark.parametrize("pkg", PACKAGES)
def test_all_names_import(pkg):
    mod = importlib.import_module(f"htm_streamer_spark.{pkg}")
    assert mod.__all__
    missing = [n for n in mod.__all__ if not hasattr(mod, n)]
    assert not missing, missing
