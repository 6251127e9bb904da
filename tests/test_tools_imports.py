"""The experiment tools (``tools/*.py``) and ``bench.py`` import the
package's operators by name but no other test runs them. Without a
Spark session, resolve every package import they make — at top level
or inside a function — and every attribute they read through a module
alias (``from pkg.operators import simsearch as S`` then
``S.ivf_probes``), so renaming or deleting an operator fails here
instead of in a sweep run months later."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

PKG = "bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark"
ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(ROOT.glob("tools/*.py")) + [ROOT / "bench.py"]


def _package_imports(tree: ast.AST) -> tuple[list[tuple[str, str]], dict[str, str]]:
    """(module, name) pairs of every ``from PKG... import name`` and the
    alias → module map of names that are themselves modules."""
    names, modules = [], {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for alias in node.names:
                names.append((node.module, alias.name))
                target = f"{node.module}.{alias.name}"
                try:
                    importlib.import_module(target)
                except ImportError:
                    continue
                modules[alias.asname or alias.name] = target
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG) and alias.asname:
                    modules[alias.asname] = alias.name
    return names, modules


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_package_imports_resolve(script):
    tree = ast.parse(script.read_text(), filename=str(script))
    names, modules = _package_imports(tree)
    missing = [
        f"{module}.{name}"
        for module, name in names
        if not hasattr(importlib.import_module(module), name)
    ]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            mod = importlib.import_module(modules[node.value.id])
            if not hasattr(mod, node.attr):
                missing.append(f"{modules[node.value.id]}.{node.attr}")
    assert not missing, f"{script.name}: unresolved {sorted(set(missing))}"
