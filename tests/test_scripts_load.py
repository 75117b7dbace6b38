"""Every kept tool under scripts/ must still import against the package:
a rename there fails here instead of at the tool's next use. Only the
top level runs; each script keeps its work behind a ``__main__`` guard."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

SCRIPTS = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..", "scripts", "*.py")))


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_top_level_loads(path, monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))  # scripts prepend the repo root
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
