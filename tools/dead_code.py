"""Unreferenced top-level names of the package and ``__spark_entry__.py``.

A top-level def, class or constant is dead when its name is used nowhere
but its own definition(s) in any ``.py`` file of the repository. Uses are
NAME tokens, so a mention in a docstring or comment is not a use, while an
f-string interpolation (``f"{_LANG_SQL}"``, one STRING token before Python
3.12) is. Dunder names (``__version__``, ``__all__``) are module protocol,
not code, and are skipped.

Usage: python tools/dead_code.py   (prints one name per line, exits 1 if any)
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


def unreferenced(root: Path = ROOT) -> list[str]:
    files = [
        p for p in root.rglob("*.py") if not any(s.startswith(".") for s in p.relative_to(root).parts)
    ]
    uses: Counter = Counter()
    for p in files:
        uses += name_uses(p.read_text())
    defined = {
        p: top_level_names(p.read_text())
        for p in [root / "__spark_entry__.py", *(root / PACKAGE).rglob("*.py")]
    }
    n_defs = Counter(name for names in defined.values() for name in names)
    return sorted(
        f"{p.relative_to(root)}:{name}"
        for p, names in defined.items()
        for name in names
        if uses[name] <= n_defs[name]
    )


if __name__ == "__main__":
    found = unreferenced()
    print("\n".join(found))
    sys.exit(1 if found else 0)
