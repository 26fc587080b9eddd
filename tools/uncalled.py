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

A second section lists the options nothing sets: every defaulted
parameter of a ``sparkfp/`` function (module-level, method, or a
class's ``__init__``, called by the class name) that no call under the
scanned roots, tests included, passes by position or keyword. Calls
match by name, like references; a call with a ``*args`` or ``**kw``
argument counts as setting every option of the function it names.
Each option listed must be in ``EXEMPT`` with its reason, and
tests/test_uncalled_options.py fails on any other: an option that
nothing sets is dead code that every test and benchmark still has to
cover. The section ends with the count of defaulted parameters.

Usage: python tools/uncalled.py
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NON_TEST = ["sparkfp", "tools", "bench", "perfbench", "bench.py", "bench_extra.py",
            "__spark_entry__.py"]

# options kept although no call sets them: deployment settings
EXEMPT = {
    "sources.rest_timeseries_source(headers)":
        "request headers carry the deployment's credentials",
}


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


def _trees() -> dict[str, ast.AST]:
    """Path -> parsed module, for every file under the scanned roots."""
    trees = {}
    for rel in NON_TEST + ["tests"]:
        for path in _py_files(rel):
            with open(path, "rb") as f:
                trees[path] = ast.parse(f.read(), path)
    return trees


def unreferenced(trees: dict[str, ast.AST]) -> list[str]:
    """The first section's lines."""
    defs: dict[str, list[str]] = {}  # name -> ["module.name", ...]
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
    return sorted(rows)


def _functions(trees: dict[str, ast.AST]):
    """(``module.qualname``, call name, node, is_method) for every
    module-level function and method of ``sparkfp/``; a class's
    ``__init__`` is called by the class name."""
    for path in _py_files("sparkfp"):
        module = os.path.splitext(os.path.basename(path))[0]
        for node in trees[path].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield f"{module}.{node.name}", node.name, node, False
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        call = node.name if m.name == "__init__" else m.name
                        yield f"{module}.{node.name}.{m.name}", call, m, True


def unset_options(trees: dict[str, ast.AST]) -> tuple[list[str], int]:
    """(sorted ``module.function(param)`` for each defaulted parameter
    no call sets, the number of defaulted parameters)."""
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)
    unset, total = [], 0
    for qual, call_name, node, is_method in _functions(trees):
        a = node.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        if is_method:
            positional = positional[1:]  # self
        options = positional[len(positional) - len(a.defaults):] if a.defaults else []
        options += [
            k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        total += len(options)
        set_: set[str] = set()
        for c in calls.get(call_name, []):
            if any(isinstance(x, ast.Starred) for x in c.args) or any(
                k.arg is None for k in c.keywords
            ):
                set_.update(options)
                break
            set_.update(positional[: len(c.args)])
            set_.update(k.arg for k in c.keywords)
        unset += [f"{qual}({o})" for o in options if o not in set_]
    return sorted(unset), total


def main() -> None:
    trees = _trees()
    print("\n".join(unreferenced(trees)))
    unset, total = unset_options(trees)
    print(f"\n# options no call sets: {len(unset)} of {total} defaulted parameters")
    for opt in unset:
        print(f"{opt}  {EXEMPT.get(opt, 'NOT EXEMPT')}")


if __name__ == "__main__":
    main()
