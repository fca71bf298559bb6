#!/usr/bin/env python3
"""Count the package's code lines: lines that hold code, not blank lines,
comments or docstrings (module, class and function docstrings, found with
ast; comments and blank lines found with tokenize).

Usage: python tools/loc.py [PACKAGE_DIR]

Prints one line per module (code lines, path) and a total; PACKAGE_DIR
defaults to the package next to this script's parent directory.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "time_series_classification_using_knn_with_dtw_under_big_data_schema_spark"
_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set:
    lines: set = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of lines holding at least one code token outside a docstring."""
    doc = _docstring_lines(ast.parse(source))
    lines: set = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(
                n for n in range(tok.start[0], tok.end[0] + 1) if n not in doc
            )
    return len(lines)


def main() -> None:
    pkg = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, PACKAGE)
    counts = []
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    counts.append((code_lines(f.read()), os.path.relpath(path, pkg)))
    for n, rel in counts:
        print(f"{n:7d}  {rel}")
    print(f"{sum(n for n, _ in counts):7d}  total")


if __name__ == "__main__":
    main()
