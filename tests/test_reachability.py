"""Every package definition is reached from code outside it.

A function, class, module constant or method that only its own tests call
is a feature nothing runs.  This test reads source text only (no Spark).
A top-level package definition, or a method of a package class, is reached
when an ``ast.Name`` or ``ast.Attribute`` node names it outside its own
definition, in the package, ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``, and outside every definition that is itself
unreached.  Comments, docstrings and other strings, ``__all__`` entries and
import statements are not reach, so a re-export alone reaches nothing.  A
definition decorated with ``@register(...)`` is reached: the harness looks
its query up by name.
"""
from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "modal_vector_db_spark"
CALLERS = [PACKAGE, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py"]

#: the public facade; its mixins' methods are public API whether or not
#: package code calls them
FACADE = "engine.py:VectorDB"

# "<module path under the package>:<name>" -> why it stays unreached.
EXEMPT = {
    "operators/bpe.py:detokenize": "the inverse the BPE encode test checks against",
    **{
        f"functions/html.py:{n}": "the DuckDB twin test_html checks the Catalyst function against"
        for n in ("html_to_text_sql", "html_title_sql", "_squash_sql")
    },
    **{
        f"plans/inspect.py:{n}": "a plan assertion the plan tests make"
        for n in (
            "broadcast_hint_sources",
            "broadcast_join_count",
            "count_operator",
            "has_partial_window_group_limit",
            "has_pushed_data_filters",
            "nested_loop_join_count",
            "scan_columns",
            "shuffle_count",
            "sort_merge_join_count",
            "uses_take_ordered",
            "window_group_limit_count",
        )
    },
}


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


def _dunder(name):
    return name.startswith("__") and name.endswith("__")


def _refs(node):
    """The ``Name`` and ``Attribute`` nodes under ``node``."""
    return [n for n in ast.walk(node) if isinstance(n, (ast.Name, ast.Attribute))]


def _registered(node):
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register" for d in getattr(node, "decorator_list", ())
    )


def _definitions(trees):
    """(key, name, node) per top-level package definition and per method of
    a package class whose bases are all package classes, the facade and its
    mixins left out (``HTMLParser`` and the like call their subclasses'
    callbacks)."""
    package = {p: t for p, t in trees.items() if PACKAGE in p.parents}
    classes = {s.name for t in package.values() for s in t.body if isinstance(s, ast.ClassDef)}
    module, _, cls = FACADE.partition(":")
    facade = next({s.name, *(b.id for b in s.bases)} for s in package[PACKAGE / module].body if getattr(s, "name", None) == cls)
    for p, tree in package.items():
        rel = p.relative_to(PACKAGE).as_posix()
        for stmt in tree.body:
            for name in _top_level_names(stmt):
                if not _dunder(name):
                    yield f"{rel}:{name}", name, stmt
            if (
                isinstance(stmt, ast.ClassDef)
                and stmt.name not in facade
                and all(isinstance(b, ast.Name) and b.id in classes for b in stmt.bases)
            ):
                for fn in stmt.body:
                    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and not _dunder(fn.name):
                        yield f"{rel}:{stmt.name}.{fn.name}", fn.name, fn


def unreached():
    trees = {
        p: ast.parse(p.read_text())
        for root in CALLERS
        for p in (sorted(root.rglob("*.py")) if root.is_dir() else [root])
    }
    by_name = defaultdict(list)
    for tree in trees.values():
        for n in _refs(tree):
            by_name[n.id if isinstance(n, ast.Name) else n.attr].append(n)
    defs = list(_definitions(trees))
    inner = {key: {id(n) for n in _refs(node)} for key, _, node in defs}
    # A reference inside an unreached definition reaches nothing, so grow
    # the unreached set until it stops changing.
    dead = set()
    while True:
        gone = set().union(*(inner[k] for k in dead))
        now = {
            key
            for key, name, node in defs
            if not _registered(node)
            and not any(id(n) not in inner[key] and id(n) not in gone for n in by_name[name])
        }
        if now == dead:
            return sorted(dead)
        dead = now


def test_every_package_definition_is_reached():
    missing = [k for k in unreached() if k not in EXEMPT]
    assert not missing, "defined in the package but used by no code outside its definition:\n" + "\n".join(missing)


def test_exemptions_are_current():
    assert sorted(EXEMPT) == [k for k in unreached() if k in EXEMPT], "an exemption names a reached or missing definition"


# -- keyword options no caller sets ---------------------------------------

#: the directories whose public functions and methods must not carry an
#: option that only tests set
SCOPED = ("operators", "functions", "sources", "streaming", "plans")

# "<module path>:<function>:<parameter>" -> why no non-test caller sets it.
PARAM_EXEMPT = {
    "sources/warc.py:build_record:date": "fixture writer: crawl-revision tests plant records with distinct dates",
}


def _caller_files():
    for root in CALLERS:
        for p in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
            if "tests" not in p.relative_to(ROOT).parts:
                yield p


def _defaulted_params():
    """(key, name, positional names after self/cls, defaulted names) per
    public function or public-class method in the scoped directories."""
    for d in SCOPED:
        for p in sorted((PACKAGE / d).rglob("*.py")):
            for node in ast.parse(p.read_text()).body:
                if isinstance(node, ast.ClassDef):
                    if node.name.startswith("_"):
                        continue
                    fns = [(f, True) for f in node.body]
                else:
                    fns = [(node, False)]
                for fn, is_method in fns:
                    if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or fn.name.startswith("_"):
                        continue
                    a = fn.args
                    pos = a.posonlyargs + a.args
                    static = any(getattr(x, "id", None) == "staticmethod" for x in fn.decorator_list)
                    names = [x.arg for x in pos][1 if is_method and not static else 0:]
                    dflt = [x.arg for x in pos[len(pos) - len(a.defaults):]] if a.defaults else []
                    dflt += [x.arg for x, v in zip(a.kwonlyargs, a.kw_defaults) if v is not None]
                    if dflt:
                        yield f"{p.relative_to(PACKAGE).as_posix()}:{fn.name}", fn.name, names, dflt


def unset_params():
    """Defaulted parameters no call of that function name passes, by
    keyword, by position or through ``*``/``**`` forwarding."""
    calls = {}
    for p in _caller_files():
        for n in ast.walk(ast.parse(p.read_text())):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
                if name:
                    calls.setdefault(name, []).append(n)
    out = []
    for key, name, names, dflt in _defaulted_params():
        passed = set()
        for c in calls.get(name, []):
            if any(isinstance(a, ast.Starred) for a in c.args) or any(k.arg is None for k in c.keywords):
                passed = set(dflt)
                break
            passed |= set(names[: len(c.args)]) | {k.arg for k in c.keywords}
        out += [f"{key}:{d}" for d in dflt if d not in passed]
    return sorted(out)


def test_every_defaulted_parameter_is_set_outside_tests():
    missing = [k for k in unset_params() if k not in PARAM_EXEMPT]
    assert not missing, "defaulted parameters only tests (or nothing) set:\n" + "\n".join(missing)


def test_parameter_exemptions_are_current():
    assert sorted(PARAM_EXEMPT) == [k for k in unset_params() if k in PARAM_EXEMPT], (
        "a parameter exemption names a parameter some caller sets, or one that is gone"
    )


# -- imports a module never uses ------------------------------------------

# "<module path>:<imported-from module>" -> why its names go unused.
IMPORT_EXEMPT = {
    "harness.py:modal_vector_db_spark.queries": "importing a query module runs its @register decorators",
}


def unused_imports():
    out = []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = p.relative_to(PACKAGE).as_posix()
        tree = ast.parse(p.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for n in tree.body:
            if isinstance(n, ast.Assign) and any(getattr(t, "id", None) == "__all__" for t in n.targets):
                used |= {e.value for e in n.value.elts}
        for n in ast.walk(tree):
            if not isinstance(n, (ast.Import, ast.ImportFrom)):
                continue
            module = getattr(n, "module", None)
            if module != "__future__" and f"{rel}:{module}" not in IMPORT_EXEMPT:
                out += [
                    f"{rel}:{n.lineno}:{a.asname or a.name.split('.')[0]}"
                    for a in n.names
                    if (a.asname or a.name.split(".")[0]) not in used
                ]
    return out


def test_every_import_is_used():
    found = unused_imports()
    assert not found, "imported but never used:\n" + "\n".join(found)


def test_import_exemptions_are_current():
    for key in IMPORT_EXEMPT:
        rel, _, module = key.partition(":")
        assert f"from {module} import" in (PACKAGE / rel).read_text(), key
