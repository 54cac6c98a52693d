"""Count code lines: lines that carry a token other than a comment or a
docstring (blank lines, comment-only lines and docstring lines are not
counted).

Usage (from the repo root): python scripts/code_lines.py [path ...]
       (default: jaccard_mapreduce_spark/, __spark_entry__.py,
       registry_fixtures.py; directories are searched for *.py, and a
       missing path counts 0)
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

DEFAULT = ["jaccard_mapreduce_spark", "__spark_entry__.py", "registry_fixtures.py"]
SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    docstring_lines = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            doc = body[0]
            docstring_lines.update(range(doc.lineno, doc.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in SKIP:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in docstring_lines:
                lines.add(ln)
    return len(lines)


def main(args: list[str]) -> int:
    total = 0
    for arg in args or DEFAULT:
        path = pathlib.Path(arg)
        files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
        for f in files:
            if f.exists():
                total += code_lines(f.read_text())
    print(total)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
