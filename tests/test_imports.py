"""Every intra-package ``from … import name`` resolves.

Most of the package's imports are function-local (``from ..operators.pq
import pq_index_search`` inside a query builder), so a test run reaches
one only when its code path runs.  A public name deleted while a lazy
import of it is left behind would otherwise fail only at query time.
This parses the package, ``tools/*.py``, ``bench.py`` and
``__spark_entry__.py`` with ``ast`` and resolves every import of the
package — module level and function local, relative and absolute —
against the imported modules.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _resolve(node: ast.ImportFrom, path: Path) -> str | None:
    """The absolute module an ImportFrom names, or None when it is not
    an import of the package."""
    if node.level == 0:
        mod = node.module or ""
        return mod if mod == PKG or mod.startswith(PKG + ".") else None
    base = _module_name(path).split(".")
    if path.name != "__init__.py":
        base.pop()
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _unresolved(path: Path) -> tuple[int, list[str]]:
    """(number of package imports checked, the ones that do not resolve)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    checked, bad = 0, []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == PKG or alias.name.startswith(PKG + "."):
                    checked += 1
                    if importlib.util.find_spec(alias.name) is None:
                        bad.append(f"{path.name}:{node.lineno} import {alias.name}")
        elif isinstance(node, ast.ImportFrom):
            mod = _resolve(node, path)
            if mod is None:
                continue
            module = importlib.import_module(mod)
            for alias in node.names:
                checked += 1
                if alias.name == "*" or hasattr(module, alias.name):
                    continue
                is_pkg = hasattr(module, "__path__")
                if not is_pkg or importlib.util.find_spec(f"{mod}.{alias.name}") is None:
                    bad.append(f"{path.name}:{node.lineno} from {mod} import {alias.name}")
    return checked, bad


def _check(paths: list[Path]) -> int:
    total, bad = 0, []
    for p in paths:
        n, b = _unresolved(p)
        total += n
        bad += b
    assert not bad, "unresolved imports:\n" + "\n".join(bad)
    return total


def test_package_imports_resolve():
    files = sorted((ROOT / PKG).rglob("*.py"))
    assert _check(files) > 300  # the package's imports of itself


def test_tool_and_entry_imports_resolve():
    files = sorted((ROOT / "tools").glob("*.py")) + [
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    assert _check(files) > 0
