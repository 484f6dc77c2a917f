"""Count physical and code lines per Python file and per top-level def.

A code line is a non-blank line holding a token that is not a comment
and is not part of a docstring (a string literal that is the first
statement of a module, class or function). Lines are found with
``tokenize``; docstrings with ``ast``.

Usage: python scripts/code_lines.py PATH [PATH ...]

A PATH that is a directory stands for every ``*.py`` file under it, in
sorted order.

Prints one line per file, ``<physical> <code> <path>``, followed by one
indented line per top-level def or class, ``<physical> <code> <name>``
(decorators included). A final ``total`` line sums the files.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize
from pathlib import Path

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(src: str) -> set[int]:
    """The line numbers (1-based) of ``src``'s code lines."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - _docstring_lines(ast.parse(src))


def count(path: str) -> tuple[int, int, list[tuple[str, int, int]]]:
    """(physical lines, code lines, [(def name, physical, code)])."""
    with open(path, encoding="utf-8") as f:
        src = f.read()
    code = code_lines(src)
    defs = []
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            span = range(first, node.end_lineno + 1)
            defs.append((node.name, len(span), sum(1 for n in span if n in code)))
    return len(src.splitlines()), len(code), defs


def _files(paths: list[str]) -> list[str]:
    """``paths`` with each directory replaced by its ``*.py`` files,
    sorted."""
    out: list[str] = []
    for path in paths:
        if os.path.isdir(path):
            out.extend(sorted(str(p) for p in Path(path).rglob("*.py")))
        else:
            out.append(path)
    return out


def main(paths: list[str]) -> None:
    if not paths:
        sys.exit(__doc__)
    tot_phys = tot_code = 0
    for path in _files(paths):
        phys, code, defs = count(path)
        tot_phys += phys
        tot_code += code
        print(f"{phys:6d} {code:6d} {path}")
        for name, p, c in defs:
            print(f"    {p:6d} {c:6d} {name}")
    print(f"{tot_phys:6d} {tot_code:6d} total")


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except BrokenPipeError:
        # stdout closed early (piped into head): point it at devnull so
        # the interpreter's exit flush does not raise again, and stop
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(1)
