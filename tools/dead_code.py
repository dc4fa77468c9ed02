"""Dead code of the package and ``__spark_entry__.py``: unreferenced
top-level names, and switches whose program callers give them one value.

Only programs count as callers: every ``.py`` file of the repository
outside ``tests/`` (the package, ``__spark_entry__.py``, ``perfbench/``,
``tools/``, ``bench.py``). A name or branch that only a test reaches is
code no program runs.

A top-level def, class or constant is dead when its name is used nowhere
in a program file but its own definition(s). Uses are NAME tokens, so a
mention in a docstring or comment is not a use, while an f-string
interpolation (``f"{_LANG_SQL}"``, one STRING token before Python 3.12)
is. Dunder names (``__version__``, ``__all__``) are module protocol, not
code, and are skipped.

A switch is a parameter that selects a branch:

* a parameter with a ``True``/``False`` default;
* a parameter with a ``None`` default that its function tests with
  ``is None``/``is not None``;
* a parameter with a string default that its function compares against a
  string literal (``==``, ``!=``, ``in``, ``not in``);
* a defaulted field of a ``@dataclass``, set through the constructor.

A switch is dead when the values program calls give it hold one value:
the literal arguments, plus the default whenever a call omits it. A
non-literal argument counts as live. Calls are matched to definitions by
name alone (``f(...)`` and ``x.f(...)`` both count for every ``def f``,
``C(...)`` for every ``@dataclass class C``), which can only hide a dead
switch, never report a live one; a ``*args`` or ``**kwargs`` call passes a
live value to every parameter it could reach.

``ALLOWLIST`` keeps a dead switch on purpose. Each entry needs a one-line
reason naming a contract or a measured scenario (a test id is not one),
and an entry the scan no longer reports is itself reported, so the list
cannot go stale.

Usage: python tools/dead_code.py   (prints the unreferenced names, the dead
switches as ``path:function(parameter)`` and any allowlist fault, one per
line; exits 1 if any)
"""

from __future__ import annotations

import ast
import io
import re
import sys
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "sonata_neo4j_loader_spark"

_FROZEN_BENCH = (
    "perfbench/workloads.py's kg_batch passes the default positionally and the benchmark's"
    " files are frozen; the benchmark-v2 change (ROADMAP item 4) retires it"
)
ALLOWLIST = {
    "sonata_neo4j_loader_spark/plans/pipeline.py:PipelineConfig(mention_impl)": (
        "BASELINE.json's north star names Arrow UDFs: 'arrow' is that contract's extractor"
    ),
    "sonata_neo4j_loader_spark/plans/pipeline.py:PipelineConfig(link_strategy)": (
        "BASELINE.json's north star names salted-join skew handling: 'salted' is that contract"
    ),
    "sonata_neo4j_loader_spark/operators/triples.py:synapse_triples(broadcast_neurons)": _FROZEN_BENCH,
    "sonata_neo4j_loader_spark/operators/aggregate.py:aggregated_synapse_triples(broadcast_groups)": (
        _FROZEN_BENCH
    ),
    "sonata_neo4j_loader_spark/operators/aggregate.py:rich_aggregated_synapse_triples(broadcast_groups)": (
        _FROZEN_BENCH
    ),
}

#: Argument value of a call that is not a literal, or that a ``*args`` /
#: ``**kwargs`` call may carry: the switch can take any value.
LIVE = object()
_STAR = object()


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


def _program_files(root: Path) -> list[Path]:
    return [
        p
        for p in root.rglob("*.py")
        if not any(s.startswith(".") for s in p.relative_to(root).parts)
        and p.relative_to(root).parts[0] != "tests"
    ]


def _defining_files(root: Path) -> list[Path]:
    return [root / "__spark_entry__.py", *(root / PACKAGE).rglob("*.py")]


def unreferenced(root: Path) -> list[str]:
    uses: Counter = Counter()
    for p in _program_files(root):
        uses += name_uses(p.read_text())
    defined = {p: top_level_names(p.read_text()) for p in _defining_files(root)}
    n_defs = Counter(name for names in defined.values() for name in names)
    return sorted(
        f"{p.relative_to(root)}:{name}"
        for p, names in defined.items()
        for name in names
        if uses[name] <= n_defs[name]
    )


def _literal(node: ast.AST) -> object:
    """The source of a literal (quotes normalized), else ``LIVE``."""
    try:
        ast.literal_eval(node)
    except ValueError:
        return LIVE
    return ast.unparse(node)


def _is_str(node: ast.AST) -> bool:
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return bool(node.elts) and all(_is_str(e) for e in node.elts)
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def _tested(body: ast.AST, name: str, default: str | None) -> bool:
    """Whether ``body`` branches on ``name`` the way its default's form
    implies: ``is [not] None`` for a None default, a string-literal
    comparison for a string default."""
    for node in ast.walk(body):
        if not isinstance(node, ast.Compare):
            continue
        sides = [node.left, *node.comparators]
        if not any(isinstance(s, ast.Name) and s.id == name for s in sides):
            continue
        if default is None and any(isinstance(op, (ast.Is, ast.IsNot)) for op in node.ops):
            if any(isinstance(s, ast.Constant) and s.value is None for s in sides):
                return True
        if isinstance(default, str) and any(_is_str(s) for s in sides):
            return True
    return False


def _is_dataclass(cls: ast.ClassDef) -> bool:
    for d in cls.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if (isinstance(d, ast.Name) and d.id == "dataclass") or (
            isinstance(d, ast.Attribute) and d.attr == "dataclass"
        ):
            return True
    return False


def switch_params(src: str) -> list[tuple[str, str, int | None, str]]:
    """``(function, parameter, position, default)`` of every switch of
    ``src``; ``position`` is the index a positional argument of a call lands
    on (``self``/``cls`` of a method not counted), None if keyword-only, and
    ``default`` its source. A dataclass field is a parameter of its class."""
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
                params = [
                    (arg, d, i - skip) for i, (arg, d) in enumerate(zip(positional, pos_defaults))
                ] + [(arg, d, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults)]
                for arg, d, pos in params:
                    if not isinstance(d, ast.Constant):
                        continue
                    if isinstance(d.value, bool) or (
                        (d.value is None or isinstance(d.value, str))
                        and _tested(child, arg.arg, d.value)
                    ):
                        out.append((child.name, arg.arg, pos, ast.unparse(d)))
                visit(child, False)
            elif isinstance(child, ast.ClassDef):
                if _is_dataclass(child):
                    fields = [
                        s
                        for s in child.body
                        if isinstance(s, ast.AnnAssign)
                        and isinstance(s.target, ast.Name)
                        and "ClassVar" not in ast.unparse(s.annotation)
                    ]
                    for i, f in enumerate(fields):
                        if f.value is not None:
                            out.append((child.name, f.target.id, i, ast.unparse(f.value)))
                visit(child, True)
            else:
                visit(child, in_class)

    visit(ast.parse(src), False)
    return out


def call_args(src: str) -> dict[str, list[tuple[list[object], dict[str, object]]]]:
    """Per called name, one ``(positional values, keyword values)`` per call
    of ``src``. A value is the literal's source, or ``LIVE``; a ``**kwargs``
    argument is the keyword ``**``, and positions from a ``*args`` on can
    hold anything."""
    out: dict[str, list[tuple[list[object], dict[str, object]]]] = {}
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
        if name is None:
            continue
        args = [_STAR if isinstance(a, ast.Starred) else _literal(a) for a in node.args]
        kwargs = {k.arg if k.arg is not None else "**": _literal(k.value) for k in node.keywords}
        out.setdefault(name, []).append((args, kwargs))
    return out


def _value(call: tuple[list[object], dict[str, object]], param: str, pos: int | None, default: str):
    args, kwargs = call
    if param in kwargs:
        return kwargs[param]
    if "**" in kwargs:
        return LIVE
    if pos is not None:
        if _STAR in args[: pos + 1]:
            return LIVE
        if pos < len(args):
            return args[pos]
    return default


def dead_switches(root: Path) -> list[str]:
    calls: dict[str, list[tuple[list[object], dict[str, object]]]] = {}
    for p in _program_files(root):
        for name, cs in call_args(p.read_text()).items():
            calls.setdefault(name, []).extend(cs)

    def dead(func: str, param: str, pos: int | None, default: str) -> bool:
        values = {_value(c, param, pos, default) for c in calls.get(func, [])}
        return LIVE not in values and len(values) <= 1

    return sorted(
        f"{p.relative_to(root)}:{func}({param})"
        for p in _defining_files(root)
        for func, param, pos, default in switch_params(p.read_text())
        if dead(func, param, pos, default)
    )


def allowlist_faults(found: list[str], allowlist: dict[str, str]) -> list[str]:
    """An entry without a one-line reason, or whose reason is a test id, or
    that the scan no longer reports."""
    faults = []
    for entry, reason in sorted(allowlist.items()):
        reason = reason.strip()
        if not reason or "\n" in reason or re.search(r"\btests?[/_.]", reason):
            faults.append(f"allowlist {entry}: needs a one-line reason naming a contract"
                          " or a measured scenario")
        if entry not in found:
            faults.append(f"allowlist {entry}: not reported by the scan; remove the entry")
    return faults


def report(root: Path, allowlist: dict[str, str]) -> list[str]:
    """Every finding the allowlist does not keep, then the allowlist's faults."""
    found = unreferenced(root) + dead_switches(root)
    return [f for f in found if f not in allowlist] + allowlist_faults(found, allowlist)


if __name__ == "__main__":
    findings = report(ROOT, ALLOWLIST)
    if findings:
        print("\n".join(findings))
    sys.exit(1 if findings else 0)
