"""Per-module line counts and repeated-code windows for the package.

Usage: python tools/line_count.py [REV]

For every module under ``intellect_bi_spark/`` prints its code,
comment+docstring and blank lines, and the number of repeated 6-line
windows.  With a git revision, each count is followed by its delta
against the same module at REV.

A line is *code* when it holds any token that is not a comment or a
docstring, so a code line with a trailing comment counts as code; a line
holding only comment or docstring text counts as comment; an empty line
counts as blank, unless it lies inside a docstring.  A *repeated window*
is a run of 6 consecutive non-blank lines that are not ``#`` comments,
stripped of indentation, that occurs more than once in the module;
every occurrence is counted.  Stdlib only.
"""

from __future__ import annotations

import ast
import io
import subprocess
import sys
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "intellect_bi_spark"
WINDOW = 6
_LAYOUT = {
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
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
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


def count(source: str) -> dict[str, int]:
    """code / comment / blank line counts and repeated windows of one
    module's source."""
    docs = _docstring_lines(ast.parse(source))
    code_lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _LAYOUT:
            continue
        if tok.type == tokenize.STRING and tok.start[0] in docs:
            continue
        code_lines.update(range(tok.start[0], tok.end[0] + 1))
    text = source.splitlines()
    blank = sum(
        1
        for i, line in enumerate(text, 1)
        if not line.strip() and i not in docs
    )
    stripped = [
        s for s in (line.strip() for line in text) if s and s[0] != "#"
    ]
    windows = Counter(
        tuple(stripped[i : i + WINDOW])
        for i in range(len(stripped) - WINDOW + 1)
    )
    return {
        "code": len(code_lines),
        "comment": len(text) - len(code_lines) - blank,
        "blank": blank,
        "windows": sum(n for n in windows.values() if n > 1),
    }


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout


def _tree(rev: str | None) -> dict[str, str]:
    if rev is None:
        return {
            str(p.relative_to(ROOT)): p.read_text()
            for p in sorted((ROOT / PACKAGE).rglob("*.py"))
        }
    names = _git("ls-tree", "-r", "--name-only", rev, PACKAGE).split()
    return {
        n: _git("show", f"{rev}:{n}") for n in names if n.endswith(".py")
    }


def main(argv: list[str]) -> None:
    if len(argv) > 1:
        sys.exit(__doc__.split("\n\n")[1])
    rev = argv[0] if argv else None
    now = {n: count(s) for n, s in _tree(None).items()}
    then = {n: count(s) for n, s in _tree(rev).items()} if rev else {}
    keys = ("code", "comment", "blank", "windows")
    zero = dict.fromkeys(keys, 0)
    print(f"{'module':<48}" + "".join(f"{k:>16}" for k in keys))
    total, total_then = dict(zero), dict(zero)
    for name in sorted(set(now) | set(then)):
        cur, old = now.get(name, zero), then.get(name, zero)
        for k in keys:
            total[k] += cur[k]
            total_then[k] += old[k]
        if rev and cur == old:
            continue
        print(f"{name:<48}" + "".join(_cell(cur[k], old[k], rev) for k in keys))
    print(f"{'TOTAL':<48}" + "".join(
        _cell(total[k], total_then[k], rev) for k in keys
    ))


def _cell(cur: int, old: int, rev: str | None) -> str:
    return f"{cur:>16}" if rev is None else f"{f'{cur} ({cur - old:+d})':>16}"


if __name__ == "__main__":
    main(sys.argv[1:])
