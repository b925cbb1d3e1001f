"""``scripts/code_lines.py``: the code-line count the simplicity records use."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(__file__), "..", "scripts", "code_lines.py")
_spec = importlib.util.spec_from_file_location("code_lines", _PATH)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

_SNIPPET = '''"""Module docstring
over two lines."""

# a comment
def f(a,
      b):  # a trailing comment
    """Docstring."""
    x = (a +
         b)
    return x
'''


def test_counts_code_lines_only():
    # def (2 lines), the multi-line assignment (2 lines), return.
    assert code_lines.code_lines(_SNIPPET) == 5
