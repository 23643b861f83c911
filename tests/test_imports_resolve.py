"""Every module imported by a script at the repo root or under ``tools/``
must exist, so deleting a module can't leave a script that fails at its
first import."""

import ast
import importlib.util
import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted([*ROOT.glob("*.py"), *ROOT.glob("tools/*.py")])


def _imported_modules(path: Path) -> set[str]:
    mods = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            mods.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mods.add(node.module.split(".")[0])
    return mods


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, ROOT))
def test_imports_resolve(path, monkeypatch):
    # as when run: the script's own directory first, then the repo root
    monkeypatch.setattr(sys, "path", [str(path.parent), str(ROOT), *sys.path])
    missing = sorted(
        m for m in _imported_modules(path) if importlib.util.find_spec(m) is None
    )
    assert not missing, f"{path.name} imports modules that don't exist: {missing}"
