"""Count the code lines of Python files: lines that hold a token other
than a comment, with blank lines and string-statement lines
(docstrings) left out. A line holding part of a multi-line expression
or string literal counts.

Usage:
    python scripts/count_code_lines.py PATH...

Prints one `<lines>\t<file>` row per .py file (a directory is walked)
and a total. Compare two trees by running it on the same paths in
each checkout.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def code_lines(source: str) -> int:
    """The number of code lines in `source`."""
    docstrings = set()
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            docstrings.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def _files(paths: list[str]) -> list[str]:
    out = []
    for path in paths:
        if os.path.isdir(path):
            for d, _dirs, names in sorted(os.walk(path)):
                out.extend(os.path.join(d, n) for n in sorted(names) if n.endswith(".py"))
        else:
            out.append(path)
    return out


def main(paths: list[str]) -> None:
    total = 0
    for fp in _files(paths):
        with open(fp, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n}\t{fp}")
    print(f"{total}\ttotal")


if __name__ == "__main__":
    main(sys.argv[1:])
