"""The query layer's import graph: every query module imports first in a
fresh interpreter, and the registry imports no entry module. And the fill
rule: no package statement drops a ``count()`` result."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "clean_census_acs_data_spark"
MODULES = sorted(
    os.path.basename(p)[: -len(".py")]
    for p in glob.glob(os.path.join(REPO, PKG, "queries*.py"))
)


def _run(code: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=300
    )


@pytest.mark.parametrize("module", MODULES)
def test_query_module_imports_first(module):
    proc = _run(f"import {PKG}.{module}")
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_registry_imports_no_entry_module():
    proc = _run(
        f"import sys\nimport {PKG}.registry as r\n"
        f"assert not r.QUERIES, len(r.QUERIES)\n"
        f"loaded = sorted(m for m in sys.modules if m.startswith('{PKG}.queries'))\n"
        "assert not loaded, loaded\n"
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_no_def_imports_its_own_module():
    """A def in a ``queries_*.py`` module reads that module's names as
    globals; importing them from the module itself is dead weight."""
    import ast

    found = []
    for module in MODULES:
        if not module.startswith("queries_"):
            continue
        with open(os.path.join(REPO, PKG, f"{module}.py")) as f:
            tree = ast.parse(f.read())
        own = f"{PKG}.{module}"
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (isinstance(node, ast.ImportFrom) and node.module == own) or (
                    isinstance(node, ast.Import) and any(a.name == own for a in node.names)
                ):
                    found.append(f"{module}.{fn.name}:{node.lineno}")
    assert not found, found


def test_no_discarded_count_fills():
    """No package statement is a bare ``x.count()`` whose result is
    dropped: a cache is filled by the first query that reads it (the
    fill rule in session.py), so a discarded count is only one more
    job. A count whose result is used is data and stays."""
    import ast

    found = []
    for path in sorted(glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            call = node.value if isinstance(node, ast.Expr) else None
            if (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "count"
                and not call.args
                and not call.keywords
            ):
                found.append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
    assert not found, found
