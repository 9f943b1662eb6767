"""tools/count_code_lines.py: the code-line rule the line-count targets
use — a code line holds a token that is neither a comment nor part of a
docstring; blank, comment-only and docstring lines are not code."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "count_code_lines.py",
)
_spec = importlib.util.spec_from_file_location("count_code_lines", _TOOL)
C = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(C)

_FIXTURE = '''"""Module docstring,
two lines."""

import os  # a trailing comment leaves the line code


def f(x):
    """Function docstring."""
    # comment only
    y = (x +
         1)

    return """a string that is
not a docstring"""


@decorator
class K:
    """Class docstring."""

    def m(self):
        return os.sep
'''


def test_counts_code_lines_of_fixture():
    res = C.count(_FIXTURE)
    # code: import, def, the two-line assignment, the two-line return
    # string, decorator, class, def m, return
    assert sorted(C.code_lines(_FIXTURE)) == [4, 7, 10, 11, 13, 14, 17, 18,
                                               21, 22]
    assert res["code"] == 10 and res["physical"] == 22
    # top-level defs span their decorators; nested defs stay in the class
    assert res["defs"] == [("f", 5, 8), ("K", 4, 6)]


def test_cli_prints_defs_then_file_total(tmp_path, capsys):
    src = tmp_path / "mod.py"
    src.write_text(_FIXTURE)
    assert C.main([str(src)]) == 0
    rows = [line.split() for line in capsys.readouterr().out.splitlines()]
    assert rows == [
        ["5", "8", f"{src}::f"],
        ["4", "6", f"{src}::K"],
        ["10", "22", str(src), "(total)"],
    ]
    assert C.main([str(src), "--totals"]) == 0
    assert capsys.readouterr().out.split() == ["10", "22", str(src),
                                               "(total)"]
