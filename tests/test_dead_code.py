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


def test_bool_switch_is_passed_by_keyword_or_position():
    defs = (
        "def f(x, a=True, *, b=False):\n    pass\n"
        "class C:\n    def m(self, c=False):\n        pass\n"
    )
    assert dead_code.bool_params(defs) == [("f", "a", 1), ("f", "b", None), ("m", "c", 0)]
    calls = dead_code.call_args("f(1, False)\nmod.f(1, b=True)\nC().m()\ng(*xs)\n")
    assert calls["f"] == [(2, set()), (1, {"b"})]
    assert calls["m"] == [(0, set())]
    assert calls["g"][0][0] > 1000


def test_package_has_no_unset_bool_switches():
    assert dead_code.unset_bool_params() == []
