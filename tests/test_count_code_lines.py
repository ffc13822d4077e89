"""scripts/count_code_lines.py: the code-line count the simplicity
changes report."""

from __future__ import annotations

from scripts.count_code_lines import code_lines

SOURCE = '''"""Module docstring,
two lines."""

import os  # a trailing comment counts as code


# A comment line.
def f(x):
    """One-line docstring."""
    y = (
        x + 1
    )
    s = """a string value
    spanning lines"""
    return y, s
'''


def test_code_lines_skip_comments_docstrings_and_blanks():
    # import, def, the three-line assignment, the two-line string, return.
    assert code_lines(SOURCE) == 8


def test_empty_source_has_no_code_lines():
    assert code_lines("") == 0
