"""Structure pin: every package module is reachable by imports from a
non-test entry point (the job, ``__spark_entry__.py``, the benchmarks and
the scripts). A module that only its own tests reach is dead weight: delete
it, or wire it into a job with an end-to-end test. AST only, no Spark."""

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
    todo = []
    for e in ENTRY_POINTS:
        p = REPO / e
        todo.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
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
