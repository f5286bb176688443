"""``scripts/code_lines.py`` counts the lines that hold code: blank
lines, comments and docstrings count 0."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "code_lines",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "code_lines.py",
    ),
)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

SOURCE = '''"""Module docstring,
over two lines."""

import os  # a trailing comment


def f(x):
    """Function docstring."""
    # a comment line

    s = """a string that is
    not a docstring"""
    return (x,
            s)
'''


def test_docstrings_comments_and_blank_lines_count_zero():
    # import, def, two lines of `s = ...`, two lines of `return`
    assert code_lines.code_lines(SOURCE) == 6

