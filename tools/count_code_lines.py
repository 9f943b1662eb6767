"""Code and physical line counts per file and per top-level function.

A CODE line holds at least one token that is neither a comment nor part
of a docstring (the string statement opening a module, class or function
body). Blank lines, comment-only lines and docstring lines are not code;
a multi-line expression or string literal counts every line it spans.
PHYSICAL lines are all lines, as ``wc -l`` counts them.

Usage: python tools/count_code_lines.py FILE [FILE ...] [--totals]
Prints, per file, one row per top-level function and class (code,
physical, name) and then the file total; ``--totals`` prints only the
file totals.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(source: str) -> set[int]:
    """1-based numbers of the code lines of ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if isinstance(first, ast.Expr) and isinstance(
            first.value, ast.Constant
        ) and isinstance(first.value.value, str):
            lines.difference_update(
                range(first.lineno, first.end_lineno + 1)
            )
    return lines


def count(source: str) -> dict:
    """``{"code", "physical", "defs": [(name, code, physical), ...]}`` —
    ``defs`` holds the top-level functions and classes in source order,
    each spanning its decorators through its last line."""
    code = code_lines(source)
    defs = []
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            span = range(start, node.end_lineno + 1)
            defs.append(
                (node.name, sum(1 for n in span if n in code), len(span))
            )
    return {
        "code": len(code),
        "physical": len(source.splitlines()),
        "defs": defs,
    }


def main(argv: list[str]) -> int:
    totals_only = "--totals" in argv
    paths = [a for a in argv if a != "--totals"]
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            res = count(fh.read())
        if not totals_only:
            for name, code, physical in res["defs"]:
                print(f"{code:6d} {physical:6d}  {path}::{name}")
        print(f"{res['code']:6d} {res['physical']:6d}  {path}  (total)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
