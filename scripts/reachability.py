"""Which engine modules and top-level defs nothing but the tests reach.

An AST walk; nothing is imported or run. The roots are the code that runs
outside the test suite: ``__spark_entry__.py`` (the driver queries),
``bench.py``, ``perfbench/`` and ``scripts/``. From each root the walk
follows ``import`` / ``from ... import`` statements (at any depth of the
file, so function-local imports count) into every in-repo module, and an
``import a.b.c`` also reaches the packages ``a`` and ``a.b``. Strings never
count as reach: a module named only in ``geojson_vt_cpp_spark.__getattr__``'s
lazy export table, or only in an ``importlib.import_module`` argument, is not
reached by it.

A top-level def (function or class) of an engine module counts as used when
its name appears as a name, an attribute or an imported name in a root, in
an engine module or in a test helper a root imports, outside the def's own
body. Names are matched bare, not by module, so a use is never missed, at
the cost of a shared name counting for every def that carries it.

  python3 scripts/reachability.py

prints the engine modules reached only from ``tests/``, those reached from
nothing, and the top-level defs named only in tests or named nowhere. It
exits 1 when an engine module is reached only from tests.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ENGINE = "geojson_vt_cpp_spark"
ROOTS = ("__spark_entry__.py", "bench.py", "perfbench", "scripts")


def _py_files(path: Path) -> list[Path]:
    if path.is_dir():
        return sorted(path.rglob("*.py"))
    return [path] if path.exists() else []


def _module_name(path: Path, repo: Path = REPO) -> str:
    parts = list(path.relative_to(repo).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _repo_modules(repo: Path = REPO) -> dict[str, Path]:
    """Importable in-repo modules: the engine, the tests and the top-level
    scripts, by dotted name."""
    out = {}
    for top in (ENGINE, "tests", "perfbench"):
        for p in _py_files(repo / top):
            out[_module_name(p, repo)] = p
    for p in repo.glob("*.py"):
        out[p.stem] = p
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _imported(tree: ast.AST) -> set[str]:
    """Dotted names a file imports: modules, and ``module.name`` for each
    name taken from a module (it may be a submodule)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _reached(files: list[Path], modules: dict[str, Path]) -> set[str]:
    """In-repo modules reached, transitively, from the imports of ``files``."""
    seen: set[str] = set()
    todo = list(files)
    while todo:
        for name in _imported(_parse(todo.pop())):
            for mod in _with_parents(name):
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append(modules[mod])
    return seen


def _root_files(repo: Path = REPO) -> list[Path]:
    return [p for r in ROOTS for p in _py_files(repo / r)]


def _test_files(repo: Path = REPO) -> list[Path]:
    return _py_files(repo / "tests")


def module_report(repo: Path = REPO) -> tuple[list[str], list[str]]:
    """(engine modules reached only from tests, engine modules reached from
    nothing)."""
    modules = _repo_modules(repo)
    engine = {m for m in modules if m.split(".")[0] == ENGINE}
    from_roots = _reached(_root_files(repo), modules)
    from_tests = _reached(_test_files(repo), modules)
    return (
        sorted(engine & from_tests - from_roots),
        sorted(engine - from_tests - from_roots),
    )


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def def_report(repo: Path = REPO) -> tuple[list[str], list[str]]:
    """(top-level engine defs named only in tests, top-level engine defs
    named nowhere), each as ``module.name``."""
    modules = _repo_modules(repo)
    roots = _root_files(repo)
    helpers = [modules[m] for m in _reached(roots, modules) if m.startswith("tests.")]
    live: set[str] = set()
    for p in roots + helpers:
        live |= _names(_parse(p))
    defs = []
    for mod, path in sorted(modules.items()):
        if mod.split(".")[0] != ENGINE:
            continue
        for node in _parse(path).body:
            if isinstance(node, _DEF):
                # a def's own body (recursion) is not a use of it
                live |= _names(node) - {node.name}
                if not node.name.startswith("__"):
                    defs.append((f"{mod}.{node.name}", node.name))
            else:
                live |= _names(node)
    tested: set[str] = set()
    for p in _test_files(repo):
        tested |= _names(_parse(p))
    only_tests = [q for q, n in defs if n not in live and n in tested]
    nowhere = [q for q, n in defs if n not in live and n not in tested]
    return only_tests, nowhere


def main() -> int:
    only_tests, nowhere = module_report()
    print("engine modules reached only from tests:")
    for m in only_tests:
        print(f"  {m}")
    print("engine modules reached from nothing:")
    for m in nowhere:
        print(f"  {m}")
    defs_tests, defs_nowhere = def_report()
    print("top-level engine defs named only in tests:")
    for d in defs_tests:
        print(f"  {d}")
    print("top-level engine defs named nowhere:")
    for d in defs_nowhere:
        print(f"  {d}")
    return 1 if only_tests else 0


if __name__ == "__main__":
    sys.exit(main())
