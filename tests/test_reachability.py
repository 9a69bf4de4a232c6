"""Every top-level package definition is reached from code outside it.

A function, class or module constant that only its own tests call is a
feature nothing runs.  This test reads source text only (no Spark): each
top-level definition in the package must be named, as a whole word and
outside every top-level definition of that name, somewhere in the package,
``tools/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``.  Names
in strings, comments and decorators count, so string registries such as
``@register("q1_pricing_summary")`` reach their entries.
"""
from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "modal_vector_db_spark"
CALLERS = [PACKAGE, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# "<module path under the package>:<name>" -> why it stays unreached.
EXEMPT = {
    "operators/bpe.py:detokenize": "the inverse the BPE encode test checks against",
}

_WORD = re.compile(r"\w+")


def _sources():
    for root in CALLERS:
        for p in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
            yield p.read_text()


def _bound(target):
    if isinstance(target, ast.Name):
        return [target.id]
    if isinstance(target, (ast.Tuple, ast.List)):
        return [n for e in target.elts for n in _bound(e)]
    return []


def _top_level_names(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    return [n for t in targets for n in _bound(t)]


def _definitions():
    """(key, name, file lines, first line, last line) per top-level package definition."""
    for p in sorted(PACKAGE.rglob("*.py")):
        lines = p.read_text().splitlines()
        for stmt in ast.parse("\n".join(lines)).body:
            for name in _top_level_names(stmt):
                if not (name.startswith("__") and name.endswith("__")):
                    yield f"{p.relative_to(PACKAGE).as_posix()}:{name}", name, lines, stmt.lineno, stmt.end_lineno


def unreached():
    named = Counter(w for text in _sources() for w in _WORD.findall(text))
    defs = list(_definitions())
    for _, name, lines, first, last in defs:
        named.subtract(w for w in _WORD.findall("\n".join(lines[first - 1:last])) if w == name)
    return sorted({key for key, name, *_ in defs if named[name] <= 0})


def test_every_package_definition_is_reached():
    missing = [k for k in unreached() if k not in EXEMPT]
    assert not missing, "defined in the package but named nowhere outside its definition:\n" + "\n".join(missing)


def test_exemptions_are_current():
    assert sorted(EXEMPT) == [k for k in unreached() if k in EXEMPT], "an exemption names a reached or missing definition"
