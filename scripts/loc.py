"""Count code lines per module of ``kamae_spark/``, and in other roots.

A code line holds at least one token that is not a comment, blank or
docstring. Each root is a directory (every ``.py`` file under it) or one
``.py`` file. For the first root (default ``kamae_spark``) prints one
``<lines>  <module>`` row per module, largest first, then its total;
each further root gets one ``<lines>  total  <root>`` line.

    python scripts/loc.py                # kamae_spark/ only
    python scripts/loc.py kamae_spark bench.py __spark_entry__.py scripts tests
                                         # the same as: make loc
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


def sources(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def main(first: str = "kamae_spark", *rest: str) -> None:
    base = Path(first)
    counts = {p.relative_to(base.parent): code_lines(p) for p in sources(base)}
    for p, n in sorted(counts.items(), key=lambda kv: -kv[1]):
        print(f"{n:6d}  {p}")
    print(f"{sum(counts.values()):6d}  total")
    for root in rest:
        print(f"{sum(map(code_lines, sources(Path(root)))):6d}  total  {root}")


if __name__ == "__main__":
    main(*sys.argv[1:])
