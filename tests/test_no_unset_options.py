"""Unset-option guard: every defaulted parameter of a public top-level
package function must be set by at least one call site in the repo
(the package, ``tests/``, ``perfbench/``, ``tools/``,
``__spark_entry__.py``). A parameter no caller ever sets has one value
in use, so it is a constant that doubles the configurations to cover
without any run ever exercising the other half; write the constant.

Call sites are matched by function name (bare or attribute call). A
positional argument sets the parameter at its index, a keyword sets
its name, and a ``*args`` / ``**kw`` call sets every parameter. No
Spark: a pure ``ast`` scan.
"""

from __future__ import annotations

import ast
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "stock_market_etl_spark"
CALLER_DIRS = ("stock_market_etl_spark", "tests", "perfbench", "tools")
CALLER_FILES = ("__spark_entry__.py",)

#: (module, function, parameter) -> why it stays a parameter anyway
EXEMPT = {
    ("sources/dimension.py", "sp500_companies", "html"): (
        "outside input (the constituents page), like a path or URL"
    ),
}


def _defaulted_params():
    """(module, function, parameter, positional index or None) for
    every defaulted parameter of a public top-level package function."""
    for path in sorted(PKG.rglob("*.py")):
        mod = str(path.relative_to(PKG))
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i in range(first, len(pos)):
                yield mod, node.name, pos[i].arg, i
            for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                if default is not None:
                    yield mod, node.name, arg.arg, None


def _calls():
    """function name -> [(n positional args, keyword names, star)]."""
    paths = [p for d in CALLER_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    paths += [ROOT / f for f in CALLER_FILES if (ROOT / f).exists()]
    calls = defaultdict(list)
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                name = f.id
            elif isinstance(f, ast.Attribute):
                name = f.attr
            else:
                continue
            star = any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords
            )
            kws = {k.arg for k in node.keywords if k.arg}
            calls[name].append((len(node.args), kws, star))
    return calls


def _is_set(calls, name, param, index):
    return any(
        star or param in kws or (index is not None and npos > index)
        for npos, kws, star in calls.get(name, ())
    )


def test_every_option_is_set_by_some_caller():
    calls = _calls()
    params = list(_defaulted_params())
    unset = [
        (mod, fn, p)
        for mod, fn, p, i in params
        if not _is_set(calls, fn, p, i) and (mod, fn, p) not in EXEMPT
    ]
    per_module = Counter(mod for mod, _, _, _ in params)
    summary = ", ".join(f"{m} {n}" for m, n in sorted(per_module.items()))
    assert not unset, (
        f"{len(unset)} of {len(params)} settable values are never set by "
        "any caller; make them constants:\n"
        + "\n".join(f"  {m}: {fn}({p}=...)" for m, fn, p in unset)
        + f"\nsettable values per module: {summary}"
    )

