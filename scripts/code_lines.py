"""Code lines per module of the engine package.

    python3 scripts/code_lines.py

Counts, for every ``.py`` file under ``ragflow_spark/``, the lines that
hold code: a line counts when a token other than a comment, a newline or an
indent starts, ends or runs through it, and it is not part of a docstring
(the first statement of a module, class or function, when that is a string
literal). Prints one ``<lines> <path>`` row per module, largest first, then
``<lines> total``.
"""

from __future__ import annotations

import ast
import io
import os
import tokenize
from pathlib import Path

ROOT = Path(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENDMARKER}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    """The number of code lines in one module's source."""
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                doc.update(range(first.lineno, first.end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _LAYOUT:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc)


def main() -> None:
    counts = {
        p.relative_to(ROOT).as_posix(): code_lines(p.read_text(encoding="utf-8"))
        for p in sorted((ROOT / "ragflow_spark").rglob("*.py"))
    }
    for path, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d} {path}")
    print(f"{sum(counts.values()):6d} total")


if __name__ == "__main__":
    main()
