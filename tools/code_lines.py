"""Count code lines: lines holding a code token, excluding blank,
comment and docstring lines (Python ``tokenize`` + ``ast``).

    python tools/code_lines.py lakehouse_cdc_spark/streaming/pipeline.py ...

Prints one count per file and the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    docstrings = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _DOC_OWNERS) and ast.get_docstring(node, clean=False):
            doc = node.body[0]
            docstrings.update(range(doc.lineno, doc.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


if __name__ == "__main__":
    total = 0
    for path in sys.argv[1:]:
        with open(path) as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d} {path}")
    print(f"{total:6d} total")
