"""Count code lines of Python files: lines that hold a non-comment token
and are not part of a module, class or function docstring (blank and
comment-only lines do not count).

    python3 scripts/code_lines.py FILE.py [FILE.py ...]

Prints one count per file, then the total."""

import ast
import io
import sys
import tokenize

_SKIP = (
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
)


def code_lines(path: str) -> int:
    with open(path) as f:
        src = f.read()
    doc = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                doc.update(range(first.lineno, first.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


if __name__ == "__main__":
    total = 0
    for p in sys.argv[1:]:
        n = code_lines(p)
        total += n
        print(n, p)
    print(total, "total")
