"""List the top-level ``sparkfp/`` definitions that no non-test file
references, with the test files that do reference them.

A definition is a module-level ``def`` or ``class``. A reference is any
AST ``Name``, ``Attribute`` attribute or imported name (``from m import
x`` / ``import m.x``) spelled like it, in a Python file under the
scanned roots: ``sparkfp/ tools/ bench/ perfbench/ bench.py
bench_extra.py __spark_entry__.py`` (non-test) and ``tests/`` (test).
References inside the definition's own body (recursion) do not count.
Matching is by name, not by resolved import, so a name shared with an
unrelated symbol reads as referenced: the list can miss an uncalled
definition but never names a referenced one. Names reached only through
strings (``getattr(m, "f")``) read as unreferenced; check each hit by
hand before deleting it.

Prints one ``module.name  tests: a.py, b.py`` line per unreferenced
definition (``tests: -`` when no test references it either), sorted.

Usage: python tools/uncalled.py
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NON_TEST = ["sparkfp", "tools", "bench", "perfbench", "bench.py", "bench_extra.py",
            "__spark_entry__.py"]


def _py_files(rel: str) -> list[str]:
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def _references(tree: ast.AST, skip: list[tuple[str, int, int]]) -> set[str]:
    """Names referenced in ``tree``, except a name referenced inside the
    line span of its own definition (``skip``: (name, first, last))."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        else:
            continue
        line = getattr(node, "lineno", None)
        if line is not None and any(
            n == name and a <= line <= b for n, a, b in skip
        ):
            continue
        out.add(name)
    return out


def main() -> None:
    defs: dict[str, list[str]] = {}  # name -> ["module.name", ...]
    trees = {}
    for rel in NON_TEST + ["tests"]:
        for path in _py_files(rel):
            with open(path, "rb") as f:
                trees[path] = ast.parse(f.read(), path)
    spans: dict[str, list[tuple[str, int, int]]] = {}
    for path in _py_files("sparkfp"):
        module = os.path.splitext(os.path.basename(path))[0]
        for node in trees[path].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(f"{module}.{node.name}")
                spans.setdefault(path, []).append(
                    (node.name, node.lineno, node.end_lineno)
                )
    used: set[str] = set()
    tests_using: dict[str, list[str]] = {}
    for path, tree in trees.items():
        refs = _references(tree, spans.get(path, []))
        if os.path.relpath(path, REPO).startswith("tests" + os.sep):
            for name in refs & defs.keys():
                tests_using.setdefault(name, []).append(os.path.basename(path))
        else:
            used |= refs
    rows = []
    for name in defs.keys() - used:
        tests = ", ".join(sorted(tests_using.get(name, []))) or "-"
        rows += [f"{qual}  tests: {tests}" for qual in defs[name]]
    print("\n".join(sorted(rows)))


if __name__ == "__main__":
    main()
