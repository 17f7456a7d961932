"""Count code lines per module of ``kamae_spark/``.

A code line holds at least one token that is not a comment, blank or
docstring. Prints one ``<lines>  <module>`` row per module, largest
first, then the package total.

    python scripts/loc.py            # or: make loc
    python scripts/loc.py path/to/pkg
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENDMARKER}


def docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(path: Path) -> int:
    src = path.read_text()
    docs = docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def main(root: str = "kamae_spark") -> None:
    base = Path(root)
    counts = {p.relative_to(base.parent): code_lines(p) for p in sorted(base.rglob("*.py"))}
    for p, n in sorted(counts.items(), key=lambda kv: -kv[1]):
        print(f"{n:6d}  {p}")
    print(f"{sum(counts.values()):6d}  total")


if __name__ == "__main__":
    main(*sys.argv[1:])
