"""Count Python lines that are neither blank nor comment, per path.

    python3 tools/loc.py [path ...]        # default: .

A path is a ``.py`` file or a directory searched recursively (dot-dirs
skipped).  Each line prints the count with docstrings, the count without
them, and the path; the last line is the total.  A line counts when a
token other than a comment, newline or indent covers it, so every line
of a multi-line string counts.  Docstrings are the leading string
statements of modules, classes and functions (``ast``).
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def count(source: str) -> tuple[int, int]:
    """(lines with docstrings, lines without) of one module's source."""
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    docs = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, _SCOPES) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            docs.update(range(doc.lineno, doc.end_lineno + 1))
    return len(code), len(code - docs)


def py_files(path: str):
    if not os.path.isdir(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith("."))
        yield from (os.path.join(root, f) for f in sorted(files) if f.endswith(".py"))


def main(paths: list[str]) -> None:
    total = [0, 0]
    for path in paths or ["."]:
        counts = [0, 0]
        for f in py_files(path):
            with open(f, encoding="utf-8") as fh:
                for i, n in enumerate(count(fh.read())):
                    counts[i] += n
                    total[i] += n
        print(f"{counts[0]:8d} {counts[1]:8d}  {path}")
    print(f"{total[0]:8d} {total[1]:8d}  total (with, without docstrings)")


if __name__ == "__main__":
    main(sys.argv[1:])
