"""Layout guard for the epoch ledgers: ``io/fs.py`` is the one place
that knows how an epoch partition is written and which epoch id holds
compacted history. Every other engine module appends through
``fs.append_epoch`` and imports ``fs.COMPACTED_EPOCH``; a hand-written
``partitionBy("epoch")`` dynamic overwrite or a second definition of
the compacted id elsewhere fails here.

Pure AST (no module is imported, no Spark session), fast tier.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "radares_spark"
LAYOUT_MODULE = Path("io") / "fs.py"


def _is_call(node: ast.AST, method: str, *args: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == method
        and [a.value for a in node.args if isinstance(a, ast.Constant)][: len(args)]
        == list(args)
    )


def _chain(node: ast.AST) -> list[ast.Call]:
    """The calls of a method chain, from ``node`` down to its root."""
    out = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            out.append(node)
            node = node.func
        else:
            node = node.value
    return out


def _modules(pkg: Path):
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        if rel != LAYOUT_MODULE:
            yield str(rel), ast.parse(path.read_text(), filename=str(path))


def epoch_overwrites(pkg: Path = PKG) -> set[tuple[str, int]]:
    """(module, line) of every ``partitionBy("epoch")`` write chained
    with ``option("partitionOverwriteMode", "dynamic")``."""
    found = set()
    for rel, tree in _modules(pkg):
        for node in ast.walk(tree):
            chain = _chain(node)
            parts = [c for c in chain if _is_call(c, "partitionBy", "epoch")]
            if parts and any(
                _is_call(c, "option", "partitionOverwriteMode", "dynamic")
                for c in chain
            ):
                found |= {(rel, c.lineno) for c in parts}
    return found


def compacted_epoch_definitions(pkg: Path = PKG) -> set[tuple[str, int]]:
    found = set()
    for rel, tree in _modules(pkg):
        for node in ast.walk(tree):
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target]
                if isinstance(node, ast.AnnAssign)
                else []
            )
            found |= {
                (rel, node.lineno)
                for t in targets
                if isinstance(t, ast.Name) and t.id == "COMPACTED_EPOCH"
            }
    return found


def test_epoch_partitions_are_written_only_by_io_fs():
    writes = sorted(epoch_overwrites())
    assert not writes, (
        f"hand-written epoch-partition dynamic overwrites {writes}: "
        "append through radares_spark.io.fs.append_epoch"
    )


def test_compacted_epoch_is_defined_only_in_io_fs():
    defs = sorted(compacted_epoch_definitions())
    assert not defs, (
        f"COMPACTED_EPOCH defined at {defs}: import it from "
        "radares_spark.io.fs"
    )


def test_the_guard_sees_both_forms(tmp_path):
    """The scan catches the chained write in either option order and a
    module-level definition, and ignores io/fs.py itself."""
    (tmp_path / "io").mkdir()
    (tmp_path / "io" / "fs.py").write_text(
        "COMPACTED_EPOCH = -1\n"
        "df.write.option('partitionOverwriteMode', 'dynamic')"
        ".partitionBy('epoch').parquet(p)\n"
    )
    (tmp_path / "mod.py").write_text(
        "COMPACTED_EPOCH: int = -1\n"
        "df.write.mode('overwrite').option('partitionOverwriteMode', 'dynamic')"
        ".partitionBy('epoch').parquet(p)\n"
        "df.write.partitionBy('epoch').option('partitionOverwriteMode', 'dynamic')"
        ".parquet(p)\n"
        "df.write.partitionBy('epoch').parquet(p)\n"  # static: not the layout write
        "df.write.option('partitionOverwriteMode', 'dynamic')"
        ".partitionBy('cell').parquet(p)\n"
    )
    assert epoch_overwrites(tmp_path) == {("mod.py", 2), ("mod.py", 3)}
    assert compacted_epoch_definitions(tmp_path) == {("mod.py", 1)}
