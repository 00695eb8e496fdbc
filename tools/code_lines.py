"""Code-token line counts of Python files: the lines that hold at least
one code token, so comments, docstrings and blank lines do not count.

A docstring is any statement made of string literals alone. A code token
that spans lines (a multi-line string inside an expression) counts every
line it spans. Usage (paths relative to the repo root by default):

    python tools/code_lines.py [file ...]
"""
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT = ("nebula_spark/plans/executor.py", "nebula_spark/operators/paths.py",
           "nebula_spark/operators/traverse.py")
_LAYOUT = {tokenize.NL, tokenize.COMMENT, tokenize.INDENT, tokenize.DEDENT,
           tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(source: str) -> int:
    """The number of lines of ``source`` holding a code token."""
    lines: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _LAYOUT:
            continue
        if tok.type != tokenize.NEWLINE:
            stmt.append(tok)
            continue
        if any(t.type != tokenize.STRING for t in stmt):
            for t in stmt:
                lines.update(range(t.start[0], t.end[0] + 1))
        stmt = []
    return len(lines)


def main() -> None:
    paths = sys.argv[1:] or [os.path.join(ROOT, p) for p in DEFAULT]
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:7,d}  {os.path.relpath(p, ROOT)}")
    if len(paths) > 1:
        print(f"{total:7,d}  total")


if __name__ == "__main__":
    main()
