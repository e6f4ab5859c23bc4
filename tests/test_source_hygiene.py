"""Static checks over the engine's own source: no top-level name defined
twice in one module, and no hard-coded checkout location."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "flink_stream_processing_refarch_spark")


def _py_files(*roots: str) -> list[str]:
    out = []
    for r in roots:
        if r.endswith(".py"):
            out.append(r)
            continue
        for d, _, names in os.walk(r):
            out += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return sorted(out)


def test_no_top_level_redefinitions_in_package():
    """A second top-level ``def``/``class`` of the same name silently
    replaces the first for every caller in the module."""
    dups = {}
    for path in _py_files(PACKAGE):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        names = Counter(
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        )
        bad = sorted(k for k, v in names.items() if v > 1)
        if bad:
            dups[os.path.relpath(path, ROOT)] = bad
    assert not dups, dups


def test_checkout_root_is_not_hard_coded():
    """The package, the driver entry and the tests find the checkout
    from their own file locations, so a copy anywhere else runs its own
    code. Neither this checkout's path nor the absolute path older
    revisions hard-coded may appear in them."""
    legacy = "/".join(("", "root", "repo"))
    pat = re.compile(
        "(" + "|".join(re.escape(p) for p in {ROOT, legacy}) + r")(?![\w.-])"
    )
    hits = []
    for path in _py_files(PACKAGE, os.path.join(ROOT, "__spark_entry__.py"),
                          os.path.join(ROOT, "tests")):
        with open(path) as f:
            for i, line in enumerate(f, 1):
                if pat.search(line):
                    hits.append(f"{os.path.relpath(path, ROOT)}:{i}")
    assert not hits, hits


def _docstring_ids(tree: ast.AST) -> set[int]:
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                          ast.AsyncFunctionDef))
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def _available_now_callers(node: ast.AST, fn: str | None = None) -> list:
    """The innermost enclosing function of every
    ``.trigger(availableNow=...)`` call under ``node``."""
    out = []
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out += _available_now_callers(child, child.name)
            continue
        if (isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "trigger"
                and any(k.arg == "availableNow" for k in child.keywords)):
            out.append(fn)
        out += _available_now_callers(child, fn)
    return out


def test_streaming_run_mechanics_live_in_one_helper():
    """Bounded streaming runs start in ``jobs.run_bounded`` only, and the
    package's code (docstrings aside) never names the state-store
    provider conf: the provider comes from the session."""
    triggers, provider = [], []
    for path in _py_files(PACKAGE):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, PACKAGE)
        triggers += [(rel, fn) for fn in _available_now_callers(tree)]
        docs = _docstring_ids(tree)
        provider += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
            and id(n) not in docs and "stateStore.providerClass" in n.value
        ]
    assert triggers == [(os.path.join("streaming", "jobs.py"), "run_bounded")], triggers
    assert not provider, provider
