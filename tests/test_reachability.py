"""Module reachability: every package module is imported by a non-test file.

An AST import walk over every non-test Python file in the repository
(the package itself, ``tools/``, ``perfbench/``, ``bench.py``,
``__spark_entry__.py``, ``scale_probe.py``). A module that only its own
tests import is dead weight for the pipeline, the graded queries, the
tools and the benchmark alike, and is a candidate for deletion. Both
``import a.b`` and ``from a import b`` count, at module level or inside
a function; importing ``a.b.c`` also imports the packages ``a`` and
``a.b``. No Spark.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "travel_data_ingestion_spark"
_SKIP_DIRS = {".git", "__pycache__", "spark-warehouse", "tests"}


def _is_test(path: str) -> bool:
    name = os.path.basename(path)
    return name.startswith("test_") or name == "conftest.py"


def _python_files():
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = sorted(x for x in dirs if x not in _SKIP_DIRS and not x.startswith("."))
        for f in sorted(files):
            path = os.path.join(d, f)
            if f.endswith(".py") and not _is_test(path):
                yield path


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _with_parents(name: str) -> set[str]:
    parts = name.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}


def _imported_modules(path: str, known: set[str]) -> set[str]:
    """Every module of ``known`` that ``path`` imports, in any form."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    here = _module_name(path)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                out |= _with_parents(alias.name)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = here.split(".")
                if not path.endswith("__init__.py"):
                    pkg = pkg[:-1]
                pkg = pkg[: len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([base] if base else []))
            out |= _with_parents(base)
            # ``from a import b`` imports module a.b when b is a module
            out |= {f"{base}.{alias.name}" for alias in node.names}
    return (out & known) - {here}


def _package_modules() -> dict[str, str]:
    return {
        _module_name(p): p
        for p in _python_files()
        if os.path.relpath(p, ROOT).split(os.sep)[0] == PKG
    }


def test_every_package_module_is_imported_by_a_non_test_file():
    modules = _package_modules()
    assert f"{PKG}.ingest" in modules and f"{PKG}.llm.multimodal" in modules
    known = set(modules)
    reached: set[str] = set()
    for path in _python_files():
        reached |= _imported_modules(path, known)
    unreached = sorted(known - reached)
    assert not unreached, (
        f"package modules that no non-test file imports: {unreached}"
    )


def test_walk_counts_both_import_forms_and_function_scope(tmp_path):
    """The walk itself: ``import a.b``, ``from a import b``, ``from a.b
    import x`` and a function-local import are all seen."""
    src = tmp_path / "probe.py"
    src.write_text(
        f"import {PKG}.ledger\n"
        f"from {PKG}.llm import ogg\n"
        f"from {PKG}.silver.runner import run_silver\n"
        "def f():\n"
        f"    from {PKG} import export\n"
    )
    known = {PKG, f"{PKG}.ledger", f"{PKG}.llm", f"{PKG}.llm.ogg",
             f"{PKG}.silver", f"{PKG}.silver.runner", f"{PKG}.export",
             f"{PKG}.maintenance"}
    assert _imported_modules(str(src), known) == known - {f"{PKG}.maintenance"}
