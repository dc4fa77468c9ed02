"""Dead code of the package and ``__spark_entry__.py``: unreferenced
top-level names, and bool switches no call sets.

A top-level def, class or constant is dead when its name is used nowhere
but its own definition(s) in any ``.py`` file of the repository. Uses are
NAME tokens, so a mention in a docstring or comment is not a use, while an
f-string interpolation (``f"{_LANG_SQL}"``, one STRING token before Python
3.12) is. Dunder names (``__version__``, ``__all__``) are module protocol,
not code, and are skipped.

A parameter with a ``True``/``False`` default is a dead switch when no call
in any ``.py`` file passes it, by keyword or by position: every caller gets
the default, so the branch the other value selects never runs. Calls are
matched to definitions by function name alone (``f(...)`` and ``x.f(...)``
both count for every ``def f``), which can only hide a dead switch, never
report a live one; a call with ``*args`` or ``**kwargs`` counts as passing
every parameter it could reach.

Usage: python tools/dead_code.py   (prints the unreferenced names, then the
dead switches as ``path:function(parameter)``, one per line; exits 1 if any)
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "sonata_neo4j_loader_spark"


def _fstring_names(src: str) -> list[str]:
    try:
        tree = ast.parse(src, mode="eval")
    except SyntaxError:
        return []
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append(node.id)
        elif isinstance(node, ast.Attribute):
            out.append(node.attr)
    return out


def name_uses(src: str) -> Counter:
    """NAME tokens of ``src``, plus the names inside f-string interpolations."""
    uses: Counter = Counter()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            uses[tok.string] += 1
        elif tok.type == tokenize.STRING and "f" in tok.string.split("'")[0].split('"')[0].lower():
            uses.update(_fstring_names(tok.string))
    return uses


def top_level_names(src: str) -> list[str]:
    names = []
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _py_files(root: Path) -> list[Path]:
    return [
        p for p in root.rglob("*.py") if not any(s.startswith(".") for s in p.relative_to(root).parts)
    ]


def _defining_files(root: Path) -> list[Path]:
    return [root / "__spark_entry__.py", *(root / PACKAGE).rglob("*.py")]


def unreferenced(root: Path = ROOT) -> list[str]:
    uses: Counter = Counter()
    for p in _py_files(root):
        uses += name_uses(p.read_text())
    defined = {p: top_level_names(p.read_text()) for p in _defining_files(root)}
    n_defs = Counter(name for names in defined.values() for name in names)
    return sorted(
        f"{p.relative_to(root)}:{name}"
        for p, names in defined.items()
        for name in names
        if uses[name] <= n_defs[name]
    )


def bool_params(src: str) -> list[tuple[str, str, int | None]]:
    """``(function, parameter, position)`` of every parameter of ``src`` with
    a bool default; ``position`` is the index a positional argument of a call
    lands on (``self``/``cls`` of a method not counted), None if keyword-only."""
    out = []

    def visit(node: ast.AST, in_class: bool) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                positional = a.posonlyargs + a.args
                skip = in_class and not any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list
                )
                pos_defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
                for i, (arg, default) in enumerate(zip(positional, pos_defaults)):
                    if isinstance(default, ast.Constant) and isinstance(default.value, bool):
                        out.append((child.name, arg.arg, i - skip))
                for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                    if isinstance(default, ast.Constant) and isinstance(default.value, bool):
                        out.append((child.name, arg.arg, None))
                visit(child, False)
            else:
                visit(child, isinstance(child, ast.ClassDef))

    visit(ast.parse(src), False)
    return out


def call_args(src: str) -> dict[str, list[tuple[int, set[str]]]]:
    """Per called name, one ``(positional count, keyword names)`` per call of
    ``src``; a ``*args`` call counts as unbounded positionals and a
    ``**kwargs`` call as the keyword ``**``."""
    out: dict[str, list[tuple[int, set[str]]]] = {}
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
        if name is None:
            continue
        n_pos = sys.maxsize if any(isinstance(a, ast.Starred) for a in node.args) else len(node.args)
        keywords = {k.arg if k.arg is not None else "**" for k in node.keywords}
        out.setdefault(name, []).append((n_pos, keywords))
    return out


def unset_bool_params(root: Path = ROOT) -> list[str]:
    calls: dict[str, list[tuple[int, set[str]]]] = {}
    for p in _py_files(root):
        for name, cs in call_args(p.read_text()).items():
            calls.setdefault(name, []).extend(cs)

    def passed(func: str, param: str, pos: int | None) -> bool:
        return any(
            param in kw or "**" in kw or (pos is not None and n_pos > pos)
            for n_pos, kw in calls.get(func, [])
        )

    return sorted(
        f"{p.relative_to(root)}:{func}({param})"
        for p in _defining_files(root)
        for func, param, pos in bool_params(p.read_text())
        if not passed(func, param, pos)
    )


if __name__ == "__main__":
    found = unreferenced() + unset_bool_params()
    if found:
        print("\n".join(found))
    sys.exit(1 if found else 0)
