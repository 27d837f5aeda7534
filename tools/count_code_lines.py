"""Count code lines in Python files: non-blank lines that are neither
comments nor docstrings.

A line counts when it holds at least one token other than a comment, a
newline or an indent change. Docstrings are the string-constant first
statements of a module, class or function body (found with ``ast``); every
line they span is left out, as are their continuation lines.

    python tools/count_code_lines.py sparkfuse/probe.py
    python tools/count_code_lines.py sparkfuse/probe.py sparkfuse/forest.py

prints ``<count> <path>`` per file, as ``wc -l`` does, and a ``total`` line
when given more than one file.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_LAYOUT_TOKENS = {
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


def count_code_lines(path: str) -> int:
    with open(path, "rb") as f:
        source = f.read()
    code: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(source).readline):
        if tok.type not in _LAYOUT_TOKENS:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(source)))


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in paths:
        n = count_code_lines(path)
        total += n
        print(f"{n} {path}")
    if len(paths) > 1:
        print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
