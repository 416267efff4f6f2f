#!/usr/bin/env python
"""Count code lines per Python file: non-blank lines that hold part of a
code token, so comment-only lines and module, class and function
docstrings do not count, while every non-blank line of any other string
(SQL text, say) does.

    python scripts/code_lines.py                      # every file under ssp_spark/
    python scripts/code_lines.py ssp_spark/queries.py scripts/

Prints one ``<count> <path>`` line per file and a total line.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by docstrings."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of code lines in ``source`` (see the module docstring)."""
    text = source.splitlines()
    skip = _docstring_lines(ast.parse(source))
    counted: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NOT_CODE:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in skip and text[ln - 1].strip():
                counted.add(ln)
    return len(counted)


def _py_files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for d, _dirs, files in os.walk(p):
                out += [os.path.join(d, f) for f in files if f.endswith(".py")]
        else:
            out.append(p)
    return sorted(out)


def main() -> int:
    paths = sys.argv[1:] or [os.path.join(ROOT, "ssp_spark")]
    total = 0
    for path in _py_files(paths):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:7d} {os.path.relpath(path)}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
