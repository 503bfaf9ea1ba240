"""Stale-import guard: every ``zhtml_spark`` name that a script imports
must exist, so deleting an API a script still names fails the suite
instead of a later run of that script.

Scripts are parsed, not run.  Imports nested in functions count, and
so do import lines inside string literals (code snippets a script
hands to a subprocess).
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [REPO / "bench.py", REPO / "__spark_entry__.py", *REPO.glob("jobs/*.py")]
)


def _engine_imports(tree: ast.AST):
    """Yield (module, name) for each engine import in ``tree``; name is
    None for a plain ``import zhtml_spark.x``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level:
            if (node.module or "").split(".")[0] == "zhtml_spark":
                for alias in node.names:
                    yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "zhtml_spark":
                    yield alias.name, None
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            for line in node.value.splitlines():
                line = line.strip()
                if line.startswith(("from zhtml_spark", "import zhtml_spark")):
                    yield from _engine_imports(ast.parse(line))


def _resolves(module: str, name: str | None) -> bool:
    if importlib.util.find_spec(module) is None:
        return False
    if name is None:
        return True
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    # a submodule of a package: ``from zhtml_spark import textops``
    return hasattr(mod, "__path__") and (
        importlib.util.find_spec(f"{module}.{name}") is not None
    )


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_engine_imports_resolve(script):
    tree = ast.parse(script.read_text(), filename=str(script))
    stale = [
        f"{module}.{name}" if name else module
        for module, name in sorted(set(_engine_imports(tree)), key=str)
        if not _resolves(module, name)
    ]
    assert not stale, f"{script.name} imports missing names: {stale}"


def test_guard_sees_nested_and_snippet_imports():
    src = (
        "def main():\n"
        "    from zhtml_spark.udfs import EXTRACT_SCHEMA, gone_udf\n"
        "SNIPPET = '''\n"
        "import sys\n"
        "from zhtml_spark.pipeline import build_session, gone_fn\n"
        "'''\n"
    )
    found = set(_engine_imports(ast.parse(src)))
    assert found == {
        ("zhtml_spark.udfs", "EXTRACT_SCHEMA"),
        ("zhtml_spark.udfs", "gone_udf"),
        ("zhtml_spark.pipeline", "build_session"),
        ("zhtml_spark.pipeline", "gone_fn"),
    }
    assert [n for m, n in sorted(found) if not _resolves(m, n)] == [
        "gone_fn",
        "gone_udf",
    ]
