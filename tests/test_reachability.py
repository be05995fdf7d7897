"""Structure pins: every package module, and every top-level function and
class in it, is reachable from a non-test entry point (the job,
``__spark_entry__.py``, the benchmarks and the scripts). Code that only its
own tests reach is dead weight: delete it, or wire it into a job with an
end-to-end test. AST only, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "pii_detector_spark"
ENTRY_POINTS = (
    "jobs",
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "BENCH",
    "perfbench",
    "scripts",
)


def _entry_files() -> list[Path]:
    files: list[Path] = []
    for e in ENTRY_POINTS:
        p = REPO / e
        files.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return files


def _module_file(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for f in (base / "__init__.py", base.with_suffix(".py")):
        if f.is_file():
            return f
    return None


def _imported_modules(path: Path) -> set[str]:
    """Package names an import statement in ``path`` can load: the module
    itself, and ``from m import x`` also tries ``m.x`` (a submodule)."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return {n for n in names if n.split(".")[0] == PKG}


def _reachable() -> set[Path]:
    todo = _entry_files()
    seen: set[Path] = set()
    while todo:
        for dotted in _imported_modules(todo.pop()):
            parts = dotted.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:i]))
                if f is not None and f not in seen:
                    seen.add(f)
                    todo.append(f)
    return seen


def test_every_package_module_reachable_from_an_entry_point():
    modules = set((REPO / PKG).rglob("*.py"))
    unreached = {
        f.relative_to(REPO).as_posix() for f in modules - _reachable()
    }
    assert unreached == set()


# reference implementations: plain-Python twins the tests compare the
# Spark operators against
REFERENCE_IMPLS = {
    "_pattern_regex",
    "canonicalize_url_py",
    "remove_duplicate_windows_py",
    "predict_lang",
    "perplexity",
    "bpe_encode",
}
# read-side and opt-in APIs: what a user calls on the tables a run leaves
# (time travel, rollback, heartbeats) or opts into by hand
PUBLIC_APIS = {
    "read_table_at",
    "rollback",
    "read_heartbeats",
    "is_live",
    "read_binary_files",
    "apply_repetition_rules",
    "salted_repartition",
}


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` mentions: names, attributes, and the
    parts and aliases of imported names."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
    return out


def test_every_package_function_reachable_from_an_entry_point():
    """Name-level: a top-level def/class is reached when an entry-point
    file, a reached def's body, or package code that runs at import
    (module-level statements other than imports) names it."""
    defs: dict[str, list[ast.AST]] = {}
    roots: set[str] = set()
    for f in sorted((REPO / PKG).rglob("*.py")):
        for st in ast.parse(f.read_text()).body:
            if isinstance(
                st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(st.name, []).append(st)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _names(st)
    for f in _entry_files():
        roots |= _names(ast.parse(f.read_text()))
    reached: set[str] = set()
    todo = roots & defs.keys()
    while todo:
        name = todo.pop()
        reached.add(name)
        for node in defs[name]:
            todo |= (_names(node) & defs.keys()) - reached
    assert defs.keys() - reached == REFERENCE_IMPLS | PUBLIC_APIS
