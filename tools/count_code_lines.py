"""Count code lines in Python sources: lines that are not blank, not
comment-only and not part of a docstring.

A line counts when any token other than a comment or a line break
starts or spans it. Docstrings are the leading string expression of a
module, class or function body (``ast.get_docstring`` positions); their
lines are dropped. Prints one ``<lines>  <path>`` row per file, sorted
by path, then the per-argument subtotals and the total.

Usage: python tools/count_code_lines.py PATH...
(each PATH is a .py file or a directory searched recursively)
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count_file(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    code: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(src)))


def python_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def main(argv: list[str]) -> int:
    if not argv:
        print("usage: python tools/count_code_lines.py PATH...", file=sys.stderr)
        return 2
    subtotals = []
    for arg in argv:
        n = 0
        for p in python_files(arg):
            c = count_file(p)
            print(f"{c:7d}  {p}")
            n += c
        subtotals.append((arg, n))
    for arg, n in subtotals:
        print(f"{n:7d}  [{arg}]")
    print(f"{sum(n for _, n in subtotals):7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
