"""Code-only line counts for the ``akumuli_spark`` package.

A line counts when it holds code: blank lines, comment lines and
docstrings (the string statement opening a module, class or function)
do not.  The package is split in two parts:

* ``corpus`` — the corpus-curation pipeline (``pipeline/``) and the
  ``streaming/`` modules that serve it;
* ``time-series`` — everything else (the Akumuli engine).

Usage::

    python tools/loc.py [REPO_ROOT]

``REPO_ROOT`` defaults to the checkout this script lives in, so a
second checkout (e.g. of a parent commit) can be counted for a net
figure.  Prints one line per module and the totals.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

#: ``streaming/`` modules that serve the corpus pipeline, not the engine
CORPUS_STREAMING = frozenset({
    "ann.py", "bm25.py", "dedup.py", "fingerprint.py", "membership.py",
})

_NON_CODE = frozenset({
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
})


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by docstrings anywhere in ``tree``."""
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    """Lines of ``source`` holding at least one code token outside a
    docstring."""
    skip = docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NON_CODE:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in skip:
                lines.add(ln)
    return len(lines)


def part_of(rel: str) -> str:
    """``corpus`` or ``time-series`` for a package-relative path."""
    top, _, rest = rel.partition("/")
    if top == "pipeline" or (top == "streaming" and rest in CORPUS_STREAMING):
        return "corpus"
    return "time-series"


def count(root: str) -> dict[str, int]:
    """Code lines per package-relative module path under ``root``."""
    pkg = os.path.join(root, "akumuli_spark")
    out = {}
    for d, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[os.path.relpath(p, pkg)] = code_lines(fh.read())
    return out


def main(argv: list[str]) -> None:
    root = argv[1] if len(argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    counts = count(root)
    totals = {"time-series": 0, "corpus": 0}
    for rel in sorted(counts):
        totals[part_of(rel)] += counts[rel]
        print(f"{counts[rel]:7d}  {part_of(rel):11s}  {rel}")
    for part, n in totals.items():
        print(f"{n:7d}  {part} total")
    print(f"{sum(totals.values()):7d}  akumuli_spark total")


if __name__ == "__main__":
    main(sys.argv)
