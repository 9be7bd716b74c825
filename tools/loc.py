"""Count the package's code lines: every physical line of
``data_pipeline_challenge_spark/**/*.py`` that carries at least one
token which is not a comment, a docstring or whitespace.

A docstring is the leading string-literal statement of a module, class
or function body. A line a docstring shares with code (none in
practice) still counts.

Usage:
    python tools/loc.py            # total for the package
    python tools/loc.py --files    # per-file counts, then the total
    python tools/loc.py PATH       # another package root
"""

from __future__ import annotations

import argparse
import ast
import io
import tokenize
from pathlib import Path

_PKG = Path(__file__).resolve().parents[1] / "data_pipeline_challenge_spark"
_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


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
    """Code lines in one module's source text."""
    doc = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        rows = range(tok.start[0], tok.end[0] + 1)
        if tok.type == tokenize.STRING and tok.start[0] in doc:
            continue
        lines.update(rows)
    return len(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default=str(_PKG))
    ap.add_argument("--files", action="store_true", help="print per-file counts")
    args = ap.parse_args()
    total = 0
    for path in sorted(Path(args.root).rglob("*.py")):
        n = code_lines(path.read_text())
        total += n
        if args.files:
            print(f"{n:6d}  {path.relative_to(args.root).as_posix()}")
    print(total)


if __name__ == "__main__":
    main()
