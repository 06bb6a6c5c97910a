"""Reachability guards, at three grains:

- **modules** — every ``radares_spark`` module must be imported,
  directly or transitively, by a product entry point: the CLI, the
  query registry and library catalog, the driver contract,
  ``bench.py`` or the ``perfbench`` benchmark;
- **functions** — every top-level engine function must be reachable
  from those entry points through references (calls, registrations,
  spec tables, ``(module, name)`` pairs);
- **parameters** — a defaulted parameter of a public top-level engine
  function must be set by at least one caller (product code, bench,
  perfbench, tests or the ``plans/`` scripts) to a value other than
  its constant default; a value nobody passes is an option nobody
  uses.

Code that only tests reach is surface nobody runs; delete it with its
tests, or wire it in. Each guard has an allowlist with a reason per
entry, and a stale-entry test so the allowlist never shelters more
than it says.

Pure AST (no module is imported, no Spark session), so it runs in well
under a second in the fast tier. Function-local imports count: lazy
imports are how the CLI reaches its heavier pipeline modules.
"""

from __future__ import annotations

import ast
from functools import cache
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
# entry files outside the package: every reference in them is a root
EXTERNAL_ENTRY_FILES = [p for p in ENTRY_POINTS if not p.is_relative_to(PKG)]
# engine functions the outside world calls by name
ENTRY_FUNCTIONS = {("radares_spark.cli", "main")}

# Modules kept although no entry point imports them, each with the
# SURVEY.md clause that declares it.
ALLOWLIST = {
    # SURVEY step 9 / §2.11: the 15-minute tumbling window with a
    # watermark over the radar slot grid, the live-feed form of the
    # batch aggregation; pinned by its stream-vs-batch tests.
    "radares_spark.streaming.windows": "SURVEY §2.11",
}

# Functions kept although no entry point reaches them; they count as
# roots, so what they call is reachable too.
FUNCTION_ALLOWLIST = {
    ("radares_spark.operators.similarity", "ivf_probe_topk"): (
        "oracle: the inline IVF probe that the stored, partition-pruned "
        "probe_stored_topk is compared against"
    ),
    ("radares_spark.operators.asof", "asof_join"): (
        "oracle: the unsalted as-of join the salted property tests "
        "compare asof_join_salted against"
    ),
    ("radares_spark.operators.retrieval", "bm25_topk_from_store"): (
        "reference: the slow tests check the night's incrementally "
        "refreshed postings store against a fresh build through it"
    ),
    ("radares_spark.io.tables", "load_jdbc"): (
        "SURVEY parity: the reference loads its tables over JDBC"
    ),
    ("radares_spark.pipeline.equipments", "load_equipments_json"): (
        "SURVEY parity: the reference's load_equipments.py JSON variant"
    ),
    ("radares_spark.io.ingest", "parse_reports"): (
        "fixture: the batch xlsx parse the ingest tests build on"
    ),
    ("radares_spark.pipeline.run_log", "read_run_log"): (
        "fixture: the tests' reader of the run log the night appends"
    ),
    ("radares_spark.streaming.windows", "tumbling_15min"): "SURVEY §2.11",
}

# Defaulted parameters no caller sets, kept with a reason each:
# (module, function, parameter) -> reason. Empty today.
PARAMETER_ALLOWLIST: dict[tuple[str, str, str], str] = {}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


MODULES = {_module_name(p): p for p in PKG.rglob("*.py")}


@cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _resolved_imports(path: Path):
    """(local name, target, imported name) for every import in the file,
    relative imports resolved; ``imported name`` is None for
    ``import x`` forms."""
    in_pkg = path.is_relative_to(PKG)
    name = _module_name(path) if in_pkg else path.stem
    package = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    yield a.asname, a.name, None
                else:
                    yield a.name.split(".")[0], a.name.split(".")[0], None
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            for a in node.names:
                yield a.asname or a.name, base, a.name


def _imported_modules(path: Path) -> set[str]:
    """``radares_spark`` modules (and their parent packages) that the
    file imports anywhere in its body."""
    targets: set[str] = set()
    for _, base, attr in _resolved_imports(path):
        targets.add(base)
        if attr is not None:
            # ``from pkg import mod`` names a submodule, not an attribute
            targets.add(f"{base}.{attr}")
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


# --- functions and parameters -----------------------------------------------

Fn = tuple[str, str]  # (module, top-level function name)


@cache
def _defs(mod: str) -> dict[str, ast.FunctionDef]:
    return {
        n.name: n
        for n in _tree(MODULES[mod]).body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


@cache
def _aliases(path: Path) -> dict[str, tuple]:
    """local name -> ("mod", module) | ("sym", module, name)."""
    out = {}
    for local, base, attr in _resolved_imports(path):
        if attr is None:
            out[local] = ("mod", base)
        elif f"{base}.{attr}" in MODULES:
            out[local] = ("mod", f"{base}.{attr}")
        else:
            out[local] = ("sym", base, attr)
    return out


def _lookup(mod: str, name: str, depth: int = 0) -> Fn | None:
    """The top-level def ``mod.name`` denotes, through re-exports."""
    if mod not in MODULES or depth > 8:
        return None
    if name in _defs(mod):
        return (mod, name)
    alias = _aliases(MODULES[mod]).get(name)
    if alias and alias[0] == "sym":
        return _lookup(alias[1], alias[2], depth + 1)
    return None


def _resolve(expr: ast.expr, path: Path) -> Fn | None:
    """The engine function a ``Name`` or dotted ``Attribute`` denotes
    in the file at ``path``, or None."""
    local = _module_name(path) if path.is_relative_to(PKG) else None
    if isinstance(expr, ast.Name):
        if local and expr.id in _defs(local):
            return (local, expr.id)
        alias = _aliases(path).get(expr.id)
        if alias and alias[0] == "sym":
            return _lookup(alias[1], alias[2])
        return None
    parts = []
    while isinstance(expr, ast.Attribute):
        parts.append(expr.attr)
        expr = expr.value
    if not isinstance(expr, ast.Name):
        return None
    alias = _aliases(path).get(expr.id)
    if alias is None:
        return None
    mod = alias[1] if alias[0] == "mod" else f"{alias[1]}.{alias[2]}"
    rest = parts[::-1]
    while rest and f"{mod}.{rest[0]}" in MODULES:
        mod = f"{mod}.{rest[0]}"
        rest = rest[1:]
    return _lookup(mod, rest[0]) if len(rest) == 1 else None


def _references(nodes, path: Path) -> set[Fn]:
    found = set()
    for root in nodes:
        for node in ast.walk(root):
            if isinstance(node, (ast.Name, ast.Attribute)):
                fn = _resolve(node, path)
                if fn:
                    found.add(fn)
            elif isinstance(node, ast.Tuple) and len(node.elts) >= 2:
                # ("radares_spark.x", "f") pairs: perfbench's span table
                mod, name = node.elts[:2]
                if all(
                    isinstance(e, ast.Constant) and isinstance(e.value, str)
                    for e in (mod, name)
                ):
                    fn = _lookup(mod.value, name.value)
                    if fn:
                        found.add(fn)
    return found


def _is_registration(decorator: ast.expr, path: Path) -> bool:
    """``@register(...)``-style: a decorator factory the engine defines,
    which files the function into a registry at import."""
    return isinstance(decorator, ast.Call) and _resolve(decorator.func, path) is not None


@cache
def _call_graph() -> tuple[dict[Fn, set[Fn]], frozenset[Fn]]:
    edges: dict[Fn, set[Fn]] = {}
    roots: set[Fn] = set(ENTRY_FUNCTIONS)
    for mod, path in MODULES.items():
        # code that runs at import: decorators, defaults and every
        # statement outside a function body (spec tables, registries)
        at_import = []
        for node in _tree(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                at_import += node.decorator_list + node.args.defaults
                at_import += [d for d in node.args.kw_defaults if d]
                if any(_is_registration(d, path) for d in node.decorator_list):
                    roots.add((mod, node.name))
            else:
                at_import.append(node)
        roots |= _references(at_import, path)
        for name, fn in _defs(mod).items():
            edges[(mod, name)] = _references(fn.body, path)
    for path in EXTERNAL_ENTRY_FILES:
        roots |= _references([_tree(path)], path)
    return edges, frozenset(roots)


def reachable_functions(extra_roots=()) -> set[Fn]:
    edges, roots = _call_graph()
    todo, seen = [*roots, *extra_roots], set()
    while todo:
        fn = todo.pop()
        if fn not in seen:
            seen.add(fn)
            todo += edges.get(fn, ())
    return seen


def test_every_function_is_reachable_from_an_entry_point():
    edges, _ = _call_graph()
    orphans = sorted(
        f"{m}.{f}"
        for m, f in set(edges) - reachable_functions(FUNCTION_ALLOWLIST)
    )
    assert not orphans, (
        f"top-level functions no entry point reaches: {orphans} — delete "
        "them with their tests, or wire them into the CLI, registry or bench"
    )


def test_function_allowlist_entries_exist_and_are_unreachable():
    reached = reachable_functions()
    for mod, name in FUNCTION_ALLOWLIST:
        assert mod in MODULES and name in _defs(mod), (
            f"allowlisted function {mod}.{name} no longer exists"
        )
        assert (mod, name) not in reached, (
            f"allowlisted function {mod}.{name} is now reachable"
        )


def _defaulted(fn: ast.FunctionDef) -> dict[str, tuple[int | None, ast.expr]]:
    """Defaulted parameter -> (its position, None for keyword-only;
    its default expression)."""
    args = fn.args
    pos = args.posonlyargs + args.args
    first = len(pos) - len(args.defaults)
    out = {a.arg: (i, args.defaults[i - first]) for i, a in enumerate(pos) if i >= first}
    out.update(
        {a.arg: (None, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None}
    )
    return out


def _is_default(arg: ast.expr, default: ast.expr) -> bool:
    """``arg`` is the same constant as the parameter's constant default
    (``0.85`` for ``p=0.85``): passing it changes nothing."""
    return (
        isinstance(arg, ast.Constant)
        and isinstance(default, ast.Constant)
        and type(arg.value) is type(default.value)
        and arg.value == default.value
    )


def _parameters_set_in(path: Path) -> dict[Fn, set[str]]:
    """Per engine function, the defaulted parameters some call in the
    file passes with a value other than their constant default. The
    count errs toward "set": a call with ``*args``/``**kw`` sets all of
    them, and so does any reference to the function that is not the
    callee of a call (``partial(f, ...)``, ``runner=f``,
    ``_one(key, frame, f)``), since the call made through that value
    is out of the scan's sight."""
    tree = _tree(path)
    callees = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    found: dict[Fn, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.Name, ast.Attribute)) and id(node) not in callees:
            fn = _resolve(node, path)
            if fn:
                found.setdefault(fn, set()).update(_defaulted(_defs(fn[0])[fn[1]]))
            continue
        if not isinstance(node, ast.Call):
            continue
        fn = _resolve(node.func, path)
        if fn is None:
            continue
        params = _defaulted(_defs(fn[0])[fn[1]])
        got = found.setdefault(fn, set())
        if any(isinstance(a, ast.Starred) for a in node.args) or any(
            k.arg is None for k in node.keywords
        ):
            got |= set(params)
            continue
        passed = {k.arg: k.value for k in node.keywords if k.arg in params}
        passed.update(
            {p: node.args[i] for p, (i, _) in params.items() if i is not None and i < len(node.args)}
        )
        got |= {p for p, v in passed.items() if not _is_default(v, params[p][1])}
    return found


@cache
def parameters_set() -> dict[Fn, set[str]]:
    """``_parameters_set_in`` over product code, bench, perfbench, the
    tests and the ``plans/`` scripts."""
    files = [
        *MODULES.values(),
        *EXTERNAL_ENTRY_FILES,
        *sorted((ROOT / "tests").glob("*.py")),
        *sorted((ROOT / "plans").rglob("*.py")),
    ]
    found: dict[Fn, set[str]] = {}
    for path in files:
        for fn, params in _parameters_set_in(path).items():
            found.setdefault(fn, set()).update(params)
    return found


def unset_parameters() -> set[tuple[str, str, str]]:
    found = parameters_set()
    return {
        (mod, name, p)
        for mod in MODULES
        for name, fn in _defs(mod).items()
        if not name.startswith("_")
        for p in _defaulted(fn)
        if p not in found.get((mod, name), ())
    }


def test_every_defaulted_parameter_is_set_by_a_caller():
    unset = sorted(
        f"{m}.{f}({p})" for m, f, p in unset_parameters() - set(PARAMETER_ALLOWLIST)
    )
    assert not unset, (
        f"defaulted parameters no caller sets: {unset} — inline the "
        "default (a literal or the module constant) and drop the parameter"
    )


def test_parameter_allowlist_entries_exist_and_are_unset():
    unset = unset_parameters()
    for mod, name, p in PARAMETER_ALLOWLIST:
        assert mod in MODULES and name in _defs(mod), (
            f"allowlisted function {mod}.{name} no longer exists"
        )
        assert (mod, name, p) in unset, (
            f"allowlisted parameter {mod}.{name}({p}) is now set, or gone"
        )


def test_a_function_passed_as_a_value_counts_every_parameter_as_set(tmp_path):
    """bench.py's streaming section hands each runner to a helper that
    calls it with ``max_files_per_trigger=1`` — the content row as the
    bare function, the URL row as a ``functools.partial`` of it; the
    guard cannot follow that call, so each form of reference must
    count as setting it on its own."""
    header = (
        "from functools import partial\n"
        "from radares_spark.streaming import admission_stream\n"
        "from radares_spark.streaming.admission_stream import run_admission_stream\n"
        "def _one(key, runner):\n"
        "    runner(None, 'landing', 'ledger', 'audit', 'ckpt', max_files_per_trigger=1)\n"
    )
    rows = {
        "bare": "_one('admission', run_admission_stream)\n",
        "partial": "_one('url_admission', runner=partial("
        "admission_stream.run_admission_stream, admission='urls'))\n",
    }
    fn = ("radares_spark.streaming.admission_stream", "run_admission_stream")
    for form, row in rows.items():
        caller = tmp_path / f"{form}.py"  # _tree caches per path
        caller.write_text(header + row)
        got = _parameters_set_in(caller).get(fn, set())
        assert "max_files_per_trigger" in got, form


def test_an_argument_equal_to_the_default_does_not_set_the_parameter(tmp_path):
    """``curate(docs, sample_pct=100)`` with ``sample_pct=100`` leaves
    ``sample_pct`` a default-only parameter; a different constant or a
    non-constant expression (a tuple, a name) still sets it."""
    caller = tmp_path / "caller.py"
    caller.write_text(
        "from radares_spark.pipeline.corpus import curate\n"
        "curate(None, sample_pct=100, max_bucket=None)\n"
        "curate(None, ('en',), 50)\n"
        "curate(None, max_bucket=None if FLAG else 8)\n"
    )
    got = _parameters_set_in(caller)[("radares_spark.pipeline.corpus", "curate")]
    assert got == {"keep_langs", "sample_pct", "max_bucket"}
    positional = tmp_path / "positional.py"  # _tree caches per path
    positional.write_text(
        "from radares_spark.pipeline.corpus import curate\n"
        "curate(None, ('en',), 100, None)\n"
    )
    got = _parameters_set_in(positional)[("radares_spark.pipeline.corpus", "curate")]
    assert got == {"keep_langs"}
