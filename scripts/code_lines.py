"""Count code lines in Python sources.

A code line is a physical line that holds at least one token other than a
comment or a docstring; blank lines, comment-only lines and docstring lines
do not count. A multi-line token (a string spanning lines) counts every line
it spans. Standard library only (``tokenize``)::

    python scripts/code_lines.py lakeflow/ lakeflow/tables.py

prints one line per file, then one total per argument.
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def code_lines(source: str) -> int:
    """Code lines in ``source`` (see the module docstring)."""
    lines: set[int] = set()
    # A STRING token is a docstring when it is the first token of a logical
    # line that holds nothing else: a statement that is only a literal.
    prev = tokenize.NEWLINE
    pending: tokenize.TokenInfo | None = None
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (tokenize.COMMENT, tokenize.NL):
            continue
        if pending is not None:
            if tok.type not in (tokenize.NEWLINE, tokenize.ENDMARKER):
                lines.update(range(pending.start[0], pending.end[0] + 1))
            pending = None
        if tok.type == tokenize.STRING and prev in (
            tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT
        ):
            pending = tok
        elif tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
        prev = tok.type
    return len(lines)


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for path in argv:
        total = 0
        for f in _files(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7,d}  {f}")
        print(f"{total:7,d}  total {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
