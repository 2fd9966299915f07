"""Count lines of Python code, optionally as a net change against a git ref.

    python tools/loc.py sdc_spark                 # code lines per file + total
    python tools/loc.py --since HEAD~1 sdc_spark  # files that changed, net delta

A code line is a physical line that carries at least one token other than
a comment; docstrings (the leading string of a module, class or function,
found with ``ast``) do not count. Physical lines are every line of the file.
Standard library only.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import subprocess
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}


def code_lines(src: str) -> int:
    """Lines holding code: not blank, not comment-only, not docstring."""
    docs: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                docs.update(range(first.lineno, first.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def _counts(src: str | None) -> tuple[int, int]:
    if src is None:
        return 0, 0
    return code_lines(src), len(src.splitlines())


def _tree_files(paths: list[str]) -> set[str]:
    out = set()
    for p in paths:
        if os.path.isfile(p):
            out.add(os.path.normpath(p))
        for d, _, names in os.walk(p):
            out.update(
                os.path.normpath(os.path.join(d, n)) for n in names if n.endswith(".py")
            )
    return out


def _git(*args: str) -> str:
    proc = subprocess.run(["git", *args], check=True, capture_output=True, text=True)
    return proc.stdout


def _ref_files(ref: str, paths: list[str]) -> set[str]:
    names = _git("ls-tree", "-r", "--name-only", ref, "--", *paths).split()
    return {os.path.normpath(n) for n in names if n.endswith(".py")}


def _ref_source(ref: str, path: str) -> str | None:
    try:
        return _git("show", f"{ref}:{path}")
    except subprocess.CalledProcessError:
        return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+", help="files or directories, repo-relative")
    ap.add_argument("--since", metavar="REF", help="report the net change since REF")
    a = ap.parse_args(argv)

    now = _tree_files(a.paths)
    if a.since is None:
        total = [0, 0]
        for f in sorted(now):
            code, phys = _counts(open(f, encoding="utf-8").read())
            total[0] += code
            total[1] += phys
            print(f"{code:7d} {phys:7d}  {f}")
        print(f"{total[0]:7d} {total[1]:7d}  total (code, physical)")
        return 0

    net = [0, 0]
    print(f"{'code':>7} {'phys':>7}  file (change since {a.since})")
    for f in sorted(now | _ref_files(a.since, a.paths)):
        new = open(f, encoding="utf-8").read() if f in now else None
        old_c, old_p = _counts(_ref_source(a.since, f))
        new_c, new_p = _counts(new)
        if (old_c, old_p) != (new_c, new_p):
            print(f"{new_c - old_c:+7d} {new_p - old_p:+7d}  {f}")
            net[0] += new_c - old_c
            net[1] += new_p - old_p
    print(f"{net[0]:+7d} {net[1]:+7d}  net (code, physical)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
