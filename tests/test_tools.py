"""Tests for the repository tools under ``tools/``."""

from __future__ import annotations

import importlib.util
import os

# loaded by file path: putting tools/ on sys.path would let
# tools/profile.py shadow the standard-library profile module
_spec = importlib.util.spec_from_file_location(
    "code_lines",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "code_lines.py"),
)
_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_mod)
code_lines = _mod.code_lines


def test_code_lines_skips_docstrings_comments_and_blanks():
    source = '''"""Module docstring,
spanning two lines."""

# a comment line
import os  # trailing comment: still a code line


class A:
    """Class docstring."""

    def f(self):
        """Function
        docstring."""

        x = """a string that is not a docstring
        still counts"""
        return os.sep + x
'''
    # import, class, def, the two-line string assignment, return
    assert code_lines(source) == 6
