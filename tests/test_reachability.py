"""Reachability guard: every ``radares_spark`` module must be imported,
directly or transitively, by a product entry point — the CLI, the query
registry and library catalog, the driver contract, ``bench.py`` or the
``perfbench`` benchmark. A module only tests import is surface nobody
runs; delete it with its tests, or wire it in.

Pure AST (no module is imported, no Spark session), so it runs in well
under a second in the fast tier. Function-local imports count: lazy
imports are how the CLI reaches its heavier pipeline modules.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "radares_spark"

ENTRY_POINTS = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    PKG / "cli.py",
    PKG / "plans" / "__init__.py",
    PKG / "plans" / "library.py",
]

# Modules kept although no entry point imports them, each with the
# SURVEY.md clause that declares it.
ALLOWLIST = {
    # SURVEY step 9 / §2.11: the 15-minute tumbling window with a
    # watermark over the radar slot grid, the live-feed form of the
    # batch aggregation; pinned by its stream-vs-batch tests.
    "radares_spark.streaming.windows": "SURVEY §2.11",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


MODULES = {_module_name(p): p for p in PKG.rglob("*.py")}


def _imported_modules(path: Path) -> set[str]:
    """``radares_spark`` modules (and their parent packages) that the
    file imports anywhere in its body, relative imports resolved."""
    name = _module_name(path) if path.is_relative_to(PKG) else path.stem
    package = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    targets: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            targets.add(base)
            # ``from pkg import mod`` names a submodule, not an attribute
            targets.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for target in targets:
        parts = target.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in MODULES:
                found.add(prefix)
    return found


def import_closure() -> set[str]:
    todo = set()
    for path in ENTRY_POINTS:
        todo |= _imported_modules(path)
        if path.is_relative_to(PKG):
            todo.add(_module_name(path))
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        parts = mod.split(".")
        todo.update(".".join(parts[:i]) for i in range(1, len(parts)))
        todo |= _imported_modules(MODULES[mod])
    return seen


def test_every_module_is_reachable_from_an_entry_point():
    orphans = sorted(set(MODULES) - import_closure() - set(ALLOWLIST))
    assert not orphans, (
        f"modules no entry point imports: {orphans} — delete them with "
        "their tests, or wire them into the CLI, registry or bench"
    )


def test_allowlist_entries_exist_and_are_unreachable():
    """A stale entry (module deleted, or now imported) must be removed,
    so the allowlist never shelters more than it says."""
    closure = import_closure()
    for mod in ALLOWLIST:
        assert mod in MODULES, f"allowlisted module {mod} no longer exists"
        assert mod not in closure, f"allowlisted module {mod} is now reachable"
