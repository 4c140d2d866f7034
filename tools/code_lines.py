"""Count the code lines of Python modules: every line that holds code,
leaving out blank lines, comment-only lines and docstring lines.

A line is code when a token other than a comment or a newline starts on
it or spans it (a multi-line string literal counts on every line it
spans), unless that token is a module, class or function docstring
(found with ``ast``). Prints one JSON object mapping each path to its
count, plus ``"total"``.

Usage: python tools/code_lines.py [paths...]
(a directory counts every ``*.py`` file below it; no path counts the
``ner_backend_spark`` package and ``__spark_entry__.py``)
"""

from __future__ import annotations

import ast
import io
import json
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.Module) -> set[int]:
    lines = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            lines.update(range(doc.lineno, doc.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """The number of code lines of one module's ``source``."""
    docs = _docstring_lines(ast.parse(source))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def _modules(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            out += sorted(
                os.path.join(d, f)
                for d, _, files in os.walk(p)
                for f in files
                if f.endswith(".py")
            )
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> None:
    paths = argv or [
        os.path.join(REPO, "ner_backend_spark"),
        os.path.join(REPO, "__spark_entry__.py"),
    ]
    counts = {}
    for path in _modules(paths):
        with open(path, encoding="utf-8") as f:
            counts[os.path.relpath(path)] = code_lines(f.read())
    counts["total"] = sum(counts.values())
    print(json.dumps(counts, indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])
