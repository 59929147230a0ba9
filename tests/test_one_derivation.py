"""One derivation per corpus fragment: the fragment-cache switch
chooses materialization, never the algorithm.

``plans/fragments.py::cached_frame`` is the one place that decides
whether a fragment is localCheckpointed and kept.  No consumer reads
the switch to pick a different derivation, so the plans the benchmark
times (switch on) are the plans the oracles check (switch off), bar
the materialization.  The one other reader is
``plans/warehouse.py::advisor_report``, whose concurrent prefill of
the advisor fragments is itself a materialization: with the switch
off there is nothing to keep.
"""

from __future__ import annotations

import ast
from pathlib import Path

import mvp_mini_etl_pipeline_1762840347_spark as pkg

PACKAGE = Path(pkg.__file__).parent


def _top_level_owner(tree: ast.Module, lineno: int) -> str:
    """Name of the top-level def or class spanning ``lineno``."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            if node.lineno <= lineno <= node.end_lineno:
                return node.name
    return "<module>"


def _mentions(word: str) -> set[tuple[str, str]]:
    """(file, top-level owner) of every line of the package naming
    ``word`` -- code, comments and docstrings alike, as grep sees it."""
    hits = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        if word not in text:
            continue
        tree = ast.parse(text)
        rel = path.relative_to(PACKAGE).as_posix()
        for lineno, line in enumerate(text.splitlines(), start=1):
            if word in line:
                hits.add((rel, _top_level_owner(tree, lineno)))
    return hits


def test_switch_is_read_only_where_materialization_is_decided():
    outside = {
        hit for hit in _mentions("fragment_cache_on")
        if hit[0] != "plans/fragments.py"
    }
    assert outside == {("plans/warehouse.py", "advisor_report")}


def test_switch_env_var_is_read_only_by_fragment_cache_on():
    """No consumer reads the environment variable directly instead."""
    readers = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and node.value == "SPARK_GRAFT_FRAGMENT_CACHE"
            ):
                readers.add(
                    (
                        path.relative_to(PACKAGE).as_posix(),
                        _top_level_owner(tree, node.lineno),
                    )
                )
    assert readers == {("plans/fragments.py", "fragment_cache_on")}
