#!/usr/bin/env python
"""Count code lines: non-blank lines that are neither comments nor
docstrings, summed over every ``.py`` file under the given directories
(a file argument counts as that one file).

Usage:
    python tools/code_lines.py [dir-or-file ...]    # default: the library package

Prints one ``<lines>  <path>`` row per argument and a total.  A line
holding any token besides a comment counts once; every line of a bare
string statement (module, class, function or attribute docstring) is
excluded."""
from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def file_lines(path: str) -> int:
    src = open(path, encoding="utf-8").read()
    doc = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant) \
                and isinstance(node.value.value, str):
            doc.update(range(node.lineno, node.end_lineno + 1))
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc)


def tree_lines(root: str) -> int:
    if os.path.isfile(root):
        return file_lines(root)
    return sum(
        file_lines(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".py")
    )


if __name__ == "__main__":
    roots = sys.argv[1:] or ["simple_pos_kafka_pyspark_airflow_spark"]
    counts = {r: tree_lines(r) for r in roots}
    for r, n in counts.items():
        print(f"{n:8d}  {r}")
    print(f"{sum(counts.values()):8d}  total")
