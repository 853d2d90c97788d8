"""Count the code lines of Python files: lines that are not blank, not
comment-only and not part of a docstring.

Docstrings are found with ``ast`` (the leading string statement of a
module, class or function body); comments with ``tokenize``. A line that
holds code and a trailing comment counts as code.

Usage: python scripts/count_code_lines.py FILE...
Prints one line per file, then the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize


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


def code_lines(source: str) -> int:
    """Number of lines of ``source`` that carry code."""
    skip = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (
            tokenize.COMMENT,
            tokenize.NL,
            tokenize.NEWLINE,
            tokenize.INDENT,
            tokenize.DEDENT,
            tokenize.ENDMARKER,
        ):
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - skip)


def main(paths: list[str]) -> int:
    if not paths:
        print("usage: python scripts/count_code_lines.py FILE...", file=sys.stderr)
        return 2
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:7d} {path}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
