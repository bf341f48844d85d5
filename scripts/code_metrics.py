"""Code-size metrics for the package: code lines (no blanks, comments or
docstrings), the same count for queries/similarity.py, and the number of
lines that sit in a duplicated window (8 consecutive stripped, non-blank,
non-comment lines that occur more than once anywhere in the package).

Usage: python scripts/code_metrics.py
"""

from __future__ import annotations

import ast
import io
import tokenize
from collections import defaultdict
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "otus_cpp_11_spark"
WINDOW = 8


def code_lines(src: str) -> int:
    """Lines carrying a token that is neither a comment nor part of a
    module, class or function docstring."""
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    skip = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER}
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in skip:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def duplicated_lines(files: list[Path]) -> int:
    """Lines covered by a WINDOW-line run that occurs more than once."""
    seqs = []
    for f in files:
        stripped = (ln.strip() for ln in f.read_text().splitlines())
        seqs.append([ln for ln in stripped if ln and not ln.startswith("#")])
    where = defaultdict(list)
    for i, seq in enumerate(seqs):
        for j in range(len(seq) - WINDOW + 1):
            where[tuple(seq[j : j + WINDOW])].append((i, j))
    dup: set[tuple[int, int]] = set()
    for spots in where.values():
        if len(spots) > 1:
            for i, j in spots:
                dup.update((i, j + k) for k in range(WINDOW))
    return len(dup)


def main() -> None:
    files = sorted(PKG.rglob("*.py"))
    total = sum(code_lines(f.read_text()) for f in files)
    sim = code_lines((PKG / "queries" / "similarity.py").read_text())
    print(f"package code lines:      {total}")
    print(f"similarity.py code lines: {sim}")
    print(f"duplicated-window lines: {duplicated_lines(files)}")


if __name__ == "__main__":
    main()
