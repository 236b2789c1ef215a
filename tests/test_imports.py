"""Every import of a package name in the repo resolves.

Tools, bench.py and __spark_entry__.py import the package inside
functions, so a dangling name (a deleted function still imported
somewhere) would surface only when that code path runs. This test reads
the imports of every such file statically and resolves each one."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

PKG = "ordinarydumpdeduplicator_spark"
ROOT = Path(__file__).resolve().parent.parent


def _sources() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (PKG, "tools", "examples", "perfbench", "tests"):
        files.extend(sorted((ROOT / d).rglob("*.py")))
    return files


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_imports(path: Path) -> list[tuple[str, str | None, int]]:
    """(module, name or None, line) for each import of a package module
    in ``path``; relative imports are resolved against the file's own
    package."""
    tree = ast.parse(path.read_text(), filename=str(path))
    here = _module_name(path).split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.extend(
                (a.name, None, node.lineno)
                for a in node.names
                if a.name.split(".")[0] == PKG
            )
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here[: len(here) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            if mod.split(".")[0] != PKG:
                continue
            out.extend((mod, a.name, node.lineno) for a in node.names)
    return out


def _resolves(mod: str, name: str | None) -> str | None:
    """None when ``from mod import name`` (or ``import mod``) works,
    else the reason it does not."""
    try:
        m = importlib.import_module(mod)
    except ImportError as e:
        return f"module does not import: {e}"
    if name is None or name == "*" or hasattr(m, name):
        return None
    try:
        importlib.import_module(f"{mod}.{name}")
    except ImportError:
        return f"{mod} defines no {name!r}"
    return None


def test_every_package_import_resolves():
    checked, dangling = 0, []
    for path in _sources():
        for mod, name, line in _package_imports(path):
            checked += 1
            why = _resolves(mod, name)
            if why is not None:
                rel = path.relative_to(ROOT)
                dangling.append(f"{rel}:{line}: {why}")
    assert checked > 0
    assert not dangling, "\n".join(dangling)
