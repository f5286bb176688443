#!/usr/bin/env python3
"""Count code lines: lines that hold code, not blank lines, comments or
docstrings (a string that opens a module, class or function body).

Usage: python3 scripts/code_lines.py PATH [PATH ...]

Prints one ``<lines> <file>`` row per Python file under the given files
and directories, then ``<lines> total``.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    """The number of lines of ``source`` that hold a code token outside
    a docstring."""
    docstrings: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            docstrings.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def _files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for f in (f for p in paths for f in _files(p)):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n} {f}")
    print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
