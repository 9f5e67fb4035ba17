"""Net code lines of Python files: the lines that hold a token of code,
counted with the standard tokenizer and ``ast``.  Blank lines, comment
lines and docstrings (module, class and function) are not counted; a
line holding code and a trailing comment is.

Usage:

    python tools/code_lines.py FILE...              # lines per file
    python tools/code_lines.py --rev REV FILE...    # REV -> working tree

With ``--rev`` each file is also counted as committed at the git
revision REV (0 when it is absent there), and the change is printed.
"""

from __future__ import annotations

import argparse
import ast
import io
import subprocess
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    """The line numbers spanned by every docstring in ``tree``."""
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
    """Net code lines of one Python source text."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def _at_rev(rev: str, path: str) -> str | None:
    """``path`` as committed at ``rev``; None when it is absent there."""
    got = subprocess.run(
        ["git", "show", f"{rev}:./{path}"], capture_output=True, text=True
    )
    return got.stdout if got.returncode == 0 else None


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("files", nargs="+")
    parser.add_argument("--rev", help="also count each file at this git revision")
    args = parser.parse_args(argv)
    total_old = total_new = 0
    for path in args.files:
        with open(path, encoding="utf-8") as f:
            new = code_lines(f.read())
        total_new += new
        if args.rev is None:
            print(f"{new:7d}  {path}")
            continue
        source = _at_rev(args.rev, path)
        old = 0 if source is None else code_lines(source)
        total_old += old
        print(f"{old:7d} -> {new:7d}  {new - old:+6d}  {path}")
    if len(args.files) > 1:
        if args.rev is None:
            print(f"{total_new:7d}  total")
        else:
            delta = total_new - total_old
            print(f"{total_old:7d} -> {total_new:7d}  {delta:+6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
