"""Every script under ``scripts/`` imports cleanly.

Several scripts import stream and operator internals by name; a rename
in the package would otherwise break them silently, since no test runs
them. Importing executes only module-level code (the scripts start
Spark under ``__main__``), so this tier stays cheap.
"""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

SCRIPTS = sorted((pathlib.Path(__file__).resolve().parent.parent / "scripts").glob("*.py"))


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.stem)
def test_script_imports(path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
