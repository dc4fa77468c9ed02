"""The dead-code scan reads code, not text, and counts programs, not tests,
as callers (tools/dead_code.py)."""

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
    assert dead_code.unreferenced(dead_code.ROOT) == []


def test_bool_switch_is_passed_by_keyword_or_position():
    defs = (
        "def f(x, a=True, *, b=False):\n    pass\n"
        "class C:\n    def m(self, c=False):\n        pass\n"
    )
    assert dead_code.switch_params(defs) == [
        ("f", "a", 1, "True"),
        ("f", "b", None, "False"),
        ("m", "c", 0, "False"),
    ]
    calls = dead_code.call_args("f(1, False)\nmod.f(y, b=True)\nC().m()\ng(*xs)\n")
    assert calls["f"] == [(["1", "False"], {}), ([dead_code.LIVE], {"b": "True"})]
    assert calls["m"] == [([], {})]
    assert dead_code._value(calls["g"][0], "p", 5, "None") is dead_code.LIVE


def test_package_has_no_unset_bool_switches():
    # every switch form, not only bools; the allowlist's entries are exact
    assert dead_code.dead_switches(dead_code.ROOT) == sorted(dead_code.ALLOWLIST)
    assert dead_code.report(dead_code.ROOT, dead_code.ALLOWLIST) == []
    assert len(dead_code.ALLOWLIST) == 5


def _tree(tmp_path, package: str, programs: dict[str, str]):
    (tmp_path / "__spark_entry__.py").write_text("")
    (tmp_path / dead_code.PACKAGE).mkdir()
    (tmp_path / dead_code.PACKAGE / "mod.py").write_text(package)
    for rel, src in programs.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(src)
    return tmp_path


def test_a_call_from_tests_does_not_count(tmp_path):
    root = _tree(
        tmp_path,
        "def used(a=True):\n    pass\n\ndef only_tested():\n    pass\n",
        {
            "tools/run.py": "used()\n",
            "tests/test_mod.py": "used(a=False)\nonly_tested()\n",
        },
    )
    assert dead_code.unreferenced(root) == [f"{dead_code.PACKAGE}/mod.py:only_tested"]
    assert dead_code.dead_switches(root) == [f"{dead_code.PACKAGE}/mod.py:used(a)"]


def test_none_default_tested_with_is_none_is_a_switch():
    src = (
        "def f(x, cap=None, other=None):\n"
        "    if cap is not None:\n        x = x[:cap]\n"
        "    return other\n"
        "def g(y=None):\n    return None is y\n"
    )
    assert dead_code.switch_params(src) == [("f", "cap", 1, "None"), ("g", "y", 0, "None")]


def test_string_compared_against_a_literal_is_a_switch():
    src = (
        "def f(x, impl='native', col='text'):\n"
        "    if impl == 'arrow':\n        return col\n"
        "def g(mode='a'):\n    return mode in ('a', 'b')\n"
    )
    assert dead_code.switch_params(src) == [("f", "impl", 1, "'native'"), ("g", "mode", 0, "'a'")]


def test_dataclass_field_set_through_the_constructor_counts_as_set(tmp_path):
    package = (
        "from dataclasses import dataclass, field\n\n"
        "@dataclass\nclass Cfg:\n"
        "    name: str\n"
        "    ratio: float = 1.0\n"
        "    mode: str = 'a'\n"
        "    parts: list = field(default_factory=list)\n"
    )
    assert dead_code.switch_params(package) == [
        ("Cfg", "ratio", 1, "1.0"),
        ("Cfg", "mode", 2, "'a'"),
        ("Cfg", "parts", 3, "field(default_factory=list)"),
    ]
    root = _tree(tmp_path, package, {"bench.py": "Cfg('x', r, parts=ps)\nmod.Cfg('y', mode='b')\n"})
    assert dead_code.dead_switches(root) == []
    (root / "bench.py").write_text("Cfg('x', r)\n")
    assert dead_code.dead_switches(root) == [
        f"{dead_code.PACKAGE}/mod.py:Cfg(mode)",
        f"{dead_code.PACKAGE}/mod.py:Cfg(parts)",
    ]


def test_every_program_call_passing_the_default_makes_the_switch_dead(tmp_path):
    package = "def f(x, impl='md5'):\n    return x if impl == 'md5' else -x\n"
    root = _tree(tmp_path, package, {"tools/a.py": "f(1)\nf(2, 'md5')\nf(3, impl='md5')\n"})
    assert dead_code.dead_switches(root) == [f"{dead_code.PACKAGE}/mod.py:f(impl)"]
    for live in ("f(4, impl='xx')\n", "f(4, impl=choice)\n", "f(*args)\n", "f(4, **kw)\n"):
        (root / "tools/b.py").write_text(live)
        assert dead_code.dead_switches(root) == [], live


def test_allowlist_entry_needs_a_reason_and_a_finding(tmp_path):
    root = _tree(
        tmp_path,
        "def f(a=True):\n    pass\n",
        {"tools/a.py": "f()\n"},
    )
    entry = f"{dead_code.PACKAGE}/mod.py:f(a)"
    assert dead_code.report(root, {}) == [entry]
    assert dead_code.report(root, {entry: "the contract names it"}) == []
    for reason in ("", "  ", "tests/test_mod.py::test_f", "kept for test_f", "two\nlines"):
        assert dead_code.report(root, {entry: reason}) == [
            f"allowlist {entry}: needs a one-line reason naming a contract or a measured scenario"
        ], reason
    (root / "tools/a.py").write_text("f()\nf(a=False)\n")
    assert dead_code.report(root, {entry: "the contract names it"}) == [
        f"allowlist {entry}: not reported by the scan; remove the entry"
    ]
