"""Package layering: the oracle crawler is a test double for the engine,
so engine code must never depend on it. Every gate the two share lives
in ``functions`` and both import it from there."""

from __future__ import annotations

import ast
from pathlib import Path, PurePath

import spacetime_crawler4py_spark

PKG_DIR = Path(spacetime_crawler4py_spark.__file__).parent
PKG = PKG_DIR.name
ORACLE = f"{PKG}.oracle"


def _imported_modules(source: str, rel_path: PurePath) -> set[str]:
    """Absolute names of every module imported by ``source``, the module
    at ``rel_path`` inside the package; relative imports are resolved
    against that module's package."""
    package = [PKG, *rel_path.parent.parts]
    out: set[str] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                name = ".".join(base + ([node.module] if node.module else []))
            else:
                name = node.module or ""
            out.add(name)
            # `from .. import oracle` imports a submodule by attribute
            out.update(f"{name}.{alias.name}" for alias in node.names)
    return out


def _imports_oracle(names: set[str]) -> list[str]:
    return sorted(
        n for n in names if n == ORACLE or n.startswith(ORACLE + ".")
    )


def test_no_module_outside_oracle_imports_oracle():
    offenders = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        rel = path.relative_to(PKG_DIR)
        if rel.parts[0] == "oracle":
            continue
        for name in _imports_oracle(_imported_modules(path.read_text(), rel)):
            offenders.append(f"{rel}: {name}")
    assert offenders == []
