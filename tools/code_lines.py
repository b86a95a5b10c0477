"""Count code lines in Python sources: lines that hold a token and are
not part of a docstring. Blank lines, comment-only lines and module,
class and function docstrings are not counted. Also count the
defaulted parameters of every ``def`` and ``lambda`` (positional and
keyword-only parameters that carry a default) — the knobs a caller
may set.

Usage: python tools/code_lines.py PATH [PATH ...]

Each PATH is a ``.py`` file or a directory searched recursively for
them. Prints ``<code lines>  <defaulted parameters>  <file>`` per
file, then the same two totals and ``total``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def code_lines(source: str) -> int:
    """Number of code lines in ``source``."""
    docstring_lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            docstring_lines.update(range(first.lineno, first.end_lineno + 1))
    token_lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            token_lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(token_lines - docstring_lines)


def defaulted_params(source: str) -> int:
    """Number of parameters with a default value in ``source``."""
    return sum(
        len(node.args.defaults)
        + sum(d is not None for d in node.args.kw_defaults)
        for node in ast.walk(ast.parse(source))
        if isinstance(node, _FUNCS)
    )


def _files(paths: list[str]) -> list[Path]:
    out: list[Path] = []
    for p in map(Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(paths: list[str]) -> int:
    total = total_defaults = 0
    for f in _files(paths):
        source = f.read_text(encoding="utf-8")
        n, d = code_lines(source), defaulted_params(source)
        total += n
        total_defaults += d
        print(f"{n:7d}  {d:4d}  {f}")
    print(f"{total:7d}  {total_defaults:4d}  total")
    return total


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
