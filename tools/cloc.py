"""Count code lines of Python sources: the size rule CHANGES.md uses.

A line counts when it holds a token that is not a comment, a blank or
an NL (``tokenize``), and it is not part of a module, class or function
docstring (``ast``).  Prints the total over every ``.py`` file under the
given paths; ``--per-file`` also prints each file's count.

Run: python tools/cloc.py spatial_spark [--per-file]
"""
import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}


def _docstring_lines(tree) -> set:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and \
                    isinstance(first.value, ast.Constant) and \
                    isinstance(first.value.value, str):
                out.update(range(first.lineno, first.end_lineno + 1))
    return out


def code_lines(src: str) -> int:
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(src)))


def _py_files(path: str) -> list:
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(root, f)
                  for root, dirs, files in os.walk(path)
                  for f in files if f.endswith(".py"))


def main(argv: list) -> None:
    per_file = "--per-file" in argv
    total = 0
    for p in [a for a in argv if a != "--per-file"]:
        for f in _py_files(p):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            if per_file:
                print(f"{n:7d} {f}")
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])
