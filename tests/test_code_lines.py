"""tools/code_lines.py, the code-line count the CHANGES.md entries
report: docstrings, comments and blank lines excluded, every line of a
non-docstring string included. No Spark."""

from tools.code_lines import code_lines, main

FIXTURE = '''"""Module docstring,
two lines."""

import os  # a trailing comment does not hide the code


# a comment line
def f(x):
    """Function docstring."""
    s = """C source
    held in a string
    counts line for line"""
    return s + os.sep


class K:
    """Class
    docstring."""

    y = 1
'''


def test_counts_code_lines_of_fixture(tmp_path, capsys):
    # import, def, the three string lines, return, class, y = 1
    assert code_lines(FIXTURE) == 8
    src = tmp_path / "fixture.py"
    src.write_text(FIXTURE)
    assert main([str(tmp_path), str(src)]) == 0
    out = capsys.readouterr().out.splitlines()
    assert [line.split() for line in out] == [
        ["8", str(src)], ["8", str(src)], ["16", "total"]]
