"""Query registry: name -> (spark_fn, oracle_sql | None).

Column-name discipline: every computed column is aliased identically in
the Spark code and the oracle SQL — the driver sorts columns by name
before hashing values, so names are part of correctness. Floating-point
aggregates are rounded (2dp money, 4dp ratios, 6dp similarities) on BOTH
sides so cross-engine summation-order differences can't flip the hash.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: SparkQuery
    oracle: str | None  # None => driver runs the weaker rows-only check


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = Query(fn=fn, oracle=oracle)
        return fn

    return deco


def query_signature(name: str) -> str:
    """Content signature of a registered query: its oracle SQL, its own
    source, and the source of every package function or class it
    reaches.

    ``RECORDED.txt`` stores this signature next to each recorded name so
    that editing the implementation, a helper it calls, or the oracle
    invalidates the stale correctness row — the registry ordering then
    re-prioritizes the query into the never-verified prefix a budgeted
    harness sweep actually reaches. "Reaches" is followed transitively
    through the names each definition's code loads: module globals
    (also as ``module.name``, and an instance counts as its class) and
    names a function body imports from this package, each definition
    counted once. Whitespace is dropped, so reformatting does not churn
    entries.
    """
    import hashlib

    q = QUERIES[name]
    reached = {}
    todo = [q.fn]
    while todo:
        obj = todo.pop()
        key = (obj.__module__, obj.__qualname__)
        if key not in reached:
            reached[key], refs = _source_and_references(obj)
            todo.extend(refs)
    blob = "\n".join(
        [" ".join((q.oracle or "").split())]
        + [reached[k] for k in sorted(reached)]
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


_PACKAGE = __name__.split(".")[0]


@functools.lru_cache(maxsize=None)
def _source_and_references(obj) -> tuple[str, list]:
    """``obj``'s whitespace-free source and the package functions and
    classes its code names: the names its bytecode loads (globals,
    attributes, imports), resolved in its module and in the package
    modules it imports or names."""
    import importlib
    import inspect
    import linecache
    import sys

    def in_package(value) -> bool:
        name = value.__name__ if inspect.ismodule(value) else value.__module__
        return (name or "").split(".")[0] == _PACKAGE

    funcs = [obj] if inspect.isfunction(obj) else [
        getattr(f, "fget", None) or getattr(f, "__func__", f)
        for f in vars(obj).values()
    ]
    codes = [f.__code__ for f in funcs if inspect.isfunction(f)]
    names, last = set(), 0
    while codes:
        code = codes.pop()
        names.update(code.co_names)
        last = max([last] + [end or 0 for _, end, _, _ in code.co_positions()])
        codes.extend(c for c in code.co_consts if inspect.iscode(c))
    if inspect.isfunction(obj):  # decorators through the last expression
        code = obj.__code__
        lines = linecache.getlines(code.co_filename)
        src = "".join(lines[code.co_firstlineno - 1:last])
    else:
        try:
            src = inspect.getsource(obj)
        except (OSError, TypeError):  # pragma: no cover - no source file
            src = obj.__qualname__
    scopes = [vars(sys.modules[obj.__module__])] + [
        vars(importlib.import_module(n))
        for n in names if n.split(".")[0] == _PACKAGE and "." in n
    ]
    refs, seen = [], set()
    for scope in scopes:  # grows as package modules turn up
        for name in names:
            value = scope.get(name)
            if value is None or id(value) in seen:
                continue
            seen.add(id(value))
            if inspect.ismodule(value):
                if in_package(value):
                    scopes.append(vars(value))
                continue
            if not (inspect.isfunction(value) or inspect.isclass(value)):
                value = type(value)
            if value is not obj and in_package(value):
                refs.append(value)
    return "".join(src.split()), refs


def query_map() -> dict[str, SparkQuery]:
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_map() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle}
