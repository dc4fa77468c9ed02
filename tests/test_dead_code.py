"""The dead-code scan reads code, not text (tools/dead_code.py)."""

from __future__ import annotations

from tools import dead_code


def test_uses_are_name_tokens_and_fstring_interpolations():
    src = (
        '"""_in_docstring is named here only."""\n'
        "# _in_comment too\n"
        "x = '_in_string'\n"
        'y = f"SELECT {_in_fstring} FROM {mod._in_attr}"\n'
        "_in_code()\n"
    )
    uses = dead_code.name_uses(src)
    assert [uses[n] for n in ("_in_docstring", "_in_comment", "_in_string")] == [0, 0, 0]
    assert [uses[n] for n in ("_in_fstring", "_in_attr", "_in_code")] == [1, 1, 1]


def test_package_has_no_unreferenced_top_level_names():
    assert dead_code.unreferenced() == []
