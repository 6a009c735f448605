"""Option lint: every True/False default of a public library function is
used both ways by code outside ``tests/``.

A boolean option whose every caller runs the same branch leaves the
other branch to run only in tests: two plans to keep correct for one
that ships. The lint covers the public functions of ``operators/``,
``dq/``, ``functions/`` and ``model/``. ``sources/`` and ``streaming/``
are left out because their flags are deployment modes (the stream
trigger, streaming versus batch reads, CSV headers) that one engine run
cannot use both ways.

Callers are every module of the package plus ``tools/``, ``bench.py``
and ``perfbench/``. A call that omits the keyword uses the default; a
value that is not a literal is decided by its own caller and counts as
both. Call sites are matched by name, so only names defined once in
the package are checked. No Spark session is needed.
"""

from __future__ import annotations

import ast
import os

from tests.conftest import ROOT

PACKAGE = os.path.join(ROOT, "news_data_pipeline_spark")
LINTED = ("operators", "dq", "functions", "model")

# "function.option" -> why every caller may run one value. The list can
# only shrink: an entry the rule no longer needs fails the test.
ALLOWED = {
    "merge_into_layer.delete": (
        "forwards merge_upsert's delete arm to one layer; merge_upsert "
        "itself has callers with both values"
    ),
}


def _py_files(top: str) -> list[str]:
    out = []
    for d, subdirs, files in os.walk(top):
        subdirs[:] = [s for s in subdirs if s != "__pycache__"]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _bool_options() -> dict[str, dict[str, tuple[bool, int | None]]]:
    """{function: {option: (default, positional index or None)}} for the
    linted public functions defined once in the package."""
    defs: dict[str, int] = {}
    options: dict[str, dict[str, tuple[bool, int | None]]] = {}
    for path in _py_files(PACKAGE):
        tree = _parse(path)
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name] = defs.get(node.name, 0) + 1
        sub = os.path.relpath(path, PACKAGE).split(os.sep)[0]
        if sub not in LINTED:
            continue
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            pos_defaults = [None] * (len(positional) - len(a.defaults))
            pairs = [
                (arg, d, i)
                for i, (arg, d) in enumerate(
                    zip(positional, pos_defaults + list(a.defaults))
                )
            ] + [(arg, d, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults)]
            found = {
                arg.arg: (d.value, i)
                for arg, d, i in pairs
                if isinstance(d, ast.Constant) and isinstance(d.value, bool)
            }
            if found:
                options[fn.name] = found
    return {f: o for f, o in options.items() if defs.get(f) == 1}


def _values_used(options) -> dict[str, set]:
    """{"function.option": values its non-test callers pass}."""
    callers = _py_files(PACKAGE) + _py_files(os.path.join(ROOT, "tools"))
    callers += _py_files(os.path.join(ROOT, "perfbench"))
    callers.append(os.path.join(ROOT, "bench.py"))
    used: dict[str, set] = {
        f"{f}.{o}": set() for f, opts in options.items() for o in opts
    }
    for path in callers:
        for call in ast.walk(_parse(path)):
            if not isinstance(call, ast.Call):
                continue
            func = call.func
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name not in options:
                continue
            kw = {k.arg: k.value for k in call.keywords}
            for opt, (default, index) in options[name].items():
                if opt in kw:
                    value = kw[opt]
                elif index is not None and index < len(call.args):
                    value = call.args[index]
                elif None in kw:  # **kwargs may or may not carry it
                    value = None
                else:
                    used[f"{name}.{opt}"].add(default)
                    continue
                if isinstance(value, ast.Constant) and isinstance(
                    value.value, bool
                ):
                    used[f"{name}.{opt}"].add(value.value)
                else:
                    used[f"{name}.{opt}"] |= {True, False}
    return used


def test_every_bool_option_is_used_both_ways():
    used = _values_used(_bool_options())
    one_way = {o for o, values in used.items() if values != {True, False}}
    offenders = sorted(
        f"{o} (only {sorted(used[o])})" for o in one_way - set(ALLOWED)
    )
    assert not offenders, (
        "boolean options whose every non-test caller runs one branch — "
        "delete the option and keep that branch: " + ", ".join(offenders)
    )
    stale = sorted(set(ALLOWED) - one_way)
    assert not stale, f"allowlist entries the rule no longer needs: {stale}"
