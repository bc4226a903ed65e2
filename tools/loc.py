"""Per-file line counts of the Python files that changed between two revisions.

    python3 tools/loc.py OLD [NEW] [--under DIR ...]

For each `.py` file that differs between git revisions OLD and NEW (NEW
defaults to the working tree, untracked files included), prints a markdown
table row with its total lines and its code lines on both sides and their
difference, then the sum.  Code lines are lines that hold a token other than
a comment, leaving out docstrings (module, class and function), counted with
`ast` + `tokenize`.  `--under` limits the files to those below the given
directories, e.g. `--under realparse_spark`.
"""

from __future__ import annotations

import argparse
import ast
import io
import subprocess
import tokenize

_NOT_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
             tokenize.DEDENT, tokenize.ENDMARKER}


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], check=True, capture_output=True, text=True).stdout


def _source(rev: str | None, path: str) -> str | None:
    """`path` at `rev` (None: the working tree), or None where it does not exist."""
    try:
        if rev is None:
            with open(path) as fh:
                return fh.read()
        return _git("show", f"{rev}:{path}")
    except (OSError, subprocess.CalledProcessError):
        return None


def count(src: str | None) -> tuple[int, int]:
    """(total lines, code lines) of a Python source; (0, 0) for no file."""
    if src is None:
        return 0, 0
    docs = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                docs.update(range(first.lineno, first.end_lineno + 1))
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(src.splitlines()), len(code - docs)


def changed_files(old: str, new: str | None, under: list[str]) -> list[str]:
    names = _git("diff", "--name-only", old, *([new] if new else []), "--", *under).split()
    if new is None:
        names += _git("ls-files", "--others", "--exclude-standard", "--", *under).split()
    return sorted({n for n in names if n.endswith(".py")})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old")
    ap.add_argument("new", nargs="?", default=None)
    ap.add_argument("--under", nargs="*", default=[])
    args = ap.parse_args()

    print("| file | total lines | code lines |")
    print("|---|---|---|")
    sums = [0, 0, 0, 0]
    for path in changed_files(args.old, args.new, args.under):
        (t0, c0), (t1, c1) = count(_source(args.old, path)), count(_source(args.new, path))
        sums = [a + b for a, b in zip(sums, (t0, t1, c0, c1))]
        print(f"| `{path}` | {t0} → {t1} ({t1 - t0:+d}) | {c0} → {c1} ({c1 - c0:+d}) |")
    t0, t1, c0, c1 = sums
    print(f"| **total** | {t0} → {t1} ({t1 - t0:+d}) | {c0} → {c1} ({c1 - c0:+d}) |")


if __name__ == "__main__":
    main()
