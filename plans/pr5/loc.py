"""Count code lines of a package: lines holding at least one token
that is not a comment, a blank line or part of a docstring.

    python plans/pr5/loc.py <package dir> [<function name> ...]

Prints the package total; with function names, also the code lines
inside those top-level functions (summed over every file).
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(src: str) -> set[int]:
    tree = ast.parse(src)
    doc = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef,
                             ast.AsyncFunctionDef, ast.ClassDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - doc


def main() -> None:
    root, names = Path(sys.argv[1]), set(sys.argv[2:])
    total = in_fns = 0
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        lines = code_lines(src)
        total += len(lines)
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) and node.name in names:
                span = range(node.lineno, node.end_lineno + 1)
                in_fns += len(lines.intersection(span))
    print(f"code lines: {total}")
    if names:
        print(f"code lines in {len(names)} named functions: {in_fns}")


if __name__ == "__main__":
    main()
