"""Count code lines: non-blank, non-comment, non-docstring.

Usage: python tools/code_lines.py [root ...]

Walks every ``*.py`` file under each root (default: the engine
package) and prints one ``<lines> <path>`` row per file plus a total.
Docstrings are the string-constant expression statements that open a
module, class or function body (found with ``ast``); comment-only
lines are found with ``tokenize``. Compare two checkouts by running
it in each.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_DEFAULT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "aws_sql_server_to_s3_datalake_etl_migration_spark",
)


def code_lines(source: str) -> int:
    skip: set[int] = set()
    for node in ast.walk(ast.parse(source)):
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
                skip.update(range(body[0].lineno, body[0].end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (
            tokenize.COMMENT,
            tokenize.NL,
            tokenize.NEWLINE,
            tokenize.INDENT,
            tokenize.DEDENT,
            tokenize.ENDMARKER,
        ):
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - skip)


def main() -> None:
    roots = sys.argv[1:] or [_DEFAULT_ROOT]
    total = 0
    for root in roots:
        for dirpath, _dirs, files in sorted(os.walk(root)):
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    n = code_lines(fh.read())
                total += n
                print(f"{n:7d} {path}")
    print(f"{total:7d} total")


if __name__ == "__main__":
    main()
