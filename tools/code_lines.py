"""Code, docstring and comment lines per module, then the total:

    python tools/code_lines.py [FILE ...]   # default: the whole package

A code line holds a token that is neither a comment nor in a docstring
(a multi-line string counts once per line), so deleting comments or
docstrings never changes the code count."""

import ast
import glob
import io
import sys
import tokenize

_SKIP = {tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
         tokenize.ENDMARKER, tokenize.COMMENT}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def count(path: str) -> tuple[int, int, int]:
    src = open(path, encoding="utf-8").read()
    doc, code, comment = set(), set(), set()
    for node in ast.walk(ast.parse(src)):
        s = node.body[0] if isinstance(node, _SCOPES) and node.body else None
        if isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant) \
                and isinstance(s.value.value, str):
            doc.update(range(s.lineno, s.end_lineno + 1))
    for t in tokenize.generate_tokens(io.StringIO(src).readline):
        if t.type == tokenize.COMMENT:
            comment.add(t.start[0])
        elif t.type not in _SKIP:
            code.update(range(t.start[0], t.end[0] + 1))
    return len(code - doc), len(doc), len(comment - code - doc)


paths = sys.argv[1:] or sorted(glob.glob("jp_qcew_spark/**/*.py", recursive=True))
rows = [(p, *count(p)) for p in paths]
print(f"{'module':<48}{'code':>7}{'doc':>7}{'comment':>9}")
for p, c, d, m in rows + [("total", *(sum(r[i] for r in rows) for i in (1, 2, 3)))]:
    print(f"{p:<48}{c:>7}{d:>7}{m:>9}")
