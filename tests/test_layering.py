"""Layering: the engine's lower layers never import the query catalog.

``plans/`` builds catalog queries on top of sources, sinks, streaming
bodies, operators and functions. An import the other way round drags
the catalog (thousands of lines of plan builders) into every pipeline
and makes the lower layer's behaviour depend on it. This test needs no
Spark: it parses every module under the lower layers and fails on any
import of ``plans``.
"""

from __future__ import annotations

import ast
import os

PKG = "sparkstreaming_gmall_scala_spark"
ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG
)
LOWER = ("sources", "sinks", "streaming", "operators", "functions")


def _imported_modules(path: str, module: str) -> list[str]:
    """Absolute dotted names of everything ``path`` imports; ``module``
    is the file's own dotted name (relative imports resolve against
    its package)."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    package = module.rsplit(".", 1)[0]
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.extend(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = parts[: len(parts) - node.level + 1]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module or ""
            out.append(target)
            # ``from .. import plans`` names the package in the alias
            out.extend(f"{target}.{alias.name}" for alias in node.names)
    return out


def _lower_modules():
    for layer in LOWER:
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, layer)):
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, os.path.dirname(ROOT))
                yield path, rel[:-3].replace(os.sep, ".")


def test_lower_layers_do_not_import_plans():
    plans = f"{PKG}.plans"
    modules = list(_lower_modules())
    assert len(modules) > 50  # the scan really walked the layers
    offenders = sorted(
        {
            f"{os.path.relpath(path, ROOT)} imports {target}"
            for path, module in modules
            for target in _imported_modules(path, module)
            if target == plans or target.startswith(plans + ".")
        }
    )
    assert not offenders, "\n".join(offenders)
