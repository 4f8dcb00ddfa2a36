"""Count the code lines of Python files: lines that hold a token other
than a comment, a docstring or layout.

A docstring here is any expression statement that is only a string
literal (module, class and function docstrings, and bare string
statements elsewhere); all of its lines are excluded. Layout tokens are
NEWLINE, NL, INDENT, DEDENT and ENDMARKER, so blank lines and lines that
hold only a comment do not count either.

Usage: python scripts/count_code_lines.py PATH...
Each PATH is a ``.py`` file or a directory searched recursively for
``.py`` files. Prints one ``<code lines>  <file>`` line per file, then
the total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NEWLINE,
    tokenize.NL,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    """Number of lines of ``source`` that hold code."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            lines.difference_update(range(node.lineno, node.end_lineno + 1))
    return len(lines)


def python_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        found += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return found


def main(paths: list[str]) -> None:
    if not paths:
        sys.exit(__doc__)
    total = 0
    for path in paths:
        for f in python_files(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
