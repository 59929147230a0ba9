"""The cosine kernel (``plans/similarity.py``): every vector carries its
self-dot from where it is made, a scored pair costs one fold, and a
centroid ranking is evaluated once per row.

The kernel's cosine must equal the three-fold formula it replaces bit
for bit; the plans must keep the ranking out of every join and filter
condition; and the source must compute a self-dot only where a vector
is made."""

from __future__ import annotations

import ast
import math
import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from mvp_mini_etl_pipeline_1762840347_spark import plans
from mvp_mini_etl_pipeline_1762840347_spark.plans.similarity import (
    N_CENTROIDS,
    _dot,
    _vectors,
    cosine,
)

SF = "/root/testdata/sf0.001"
PACKAGE = pathlib.Path(plans.__file__).parent.parent


def _three_fold(a, b):
    """The formula the kernel replaces: both self-dots per pair."""
    return _dot(a, b) / F.sqrt(_dot(a, a) * _dot(b, b))


def _same(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x):
        return math.isnan(y)
    return x == y


def test_kernel_equals_three_fold_formula_for_every_centroid_pair(spark):
    v = _vectors(spark, SF)
    cents = v.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("ce"),
        F.col("s").alias("cs"),
    )
    rows = (
        v.crossJoin(cents)
        .select(
            "vec_id",
            "cid",
            cosine(F.col("e"), F.col("ce"), F.col("s"), F.col("cs")).alias("k"),
            _three_fold(F.col("e"), F.col("ce")).alias("t"),
        )
        .collect()
    )
    n = v.count()
    assert len(rows) == n * N_CENTROIDS > 0
    assert [r for r in rows if not _same(r.k, r.t)] == []


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_kernel_equals_three_fold_formula_on_degenerate_vectors(
    spark, tmp_path, ansi
):
    """A zero vector (0/0), a null element and a null array: per pair,
    the kernel and the three-fold form both raise or both return the
    same value."""
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1, 2, 3, 4], pa.int64()),
                "embedding": pa.array(
                    [[1.0, 2.0, 3.0], [0.0, 0.0, 0.0], [1.0, None, 2.0], None,
                     [-1.0, 0.5, 2.0]],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        v = _vectors(spark, str(tmp_path))
        pairs = v.select(
            F.col("vec_id").alias("ia"), F.col("e").alias("a"), F.col("s").alias("sa")
        ).crossJoin(v)
        kernel = cosine(F.col("a"), F.col("e"), F.col("sa"), F.col("s"))
        three = _three_fold(F.col("a"), F.col("e"))

        def value(form, i, j):
            pair = pairs.filter((F.col("ia") == i) & (F.col("vec_id") == j))
            try:
                return "ok", pair.select(form.alias("c")).first().c
            except ArithmeticException as exc:
                return "raise", exc.getCondition()

        outcomes = set()
        for i in range(5):
            for j in range(5):
                k, t = value(kernel, i, j), value(three, i, j)
                assert k[0] == t[0] and _same(k[1], t[1]), (i, j, k, t)
                outcomes.add(k[0])
        # the zero vector divides 0 by 0: ANSI raises, otherwise null
        assert outcomes == ({"ok", "raise"} if ansi == "true" else {"ok"})
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def _conditions(df) -> list[str]:
    """The Join and Filter lines of the optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        line
        for line in plan.splitlines()
        if re.match(r"^[\s:+\-]*(Join|Filter)\b", line)
    ]


@pytest.mark.parametrize("name", ["similarity_ivf", "ann_recall_vs_probes"])
def test_centroid_ranking_stays_out_of_join_and_filter_conditions(spark, name):
    """The ranking is a per-row projection: an inferred ``isnotnull`` or
    ``size > 0`` over it, pushed into the broadcast join, would evaluate
    every centroid fold a second time per corpus row."""
    df = entrymod.queries()[name](spark, SF)
    conds = _conditions(df)
    assert any(line.lstrip(" :+-").startswith("Join") for line in conds)
    assert "zip_with" in df._jdf.queryExecution().optimizedPlan().toString()
    assert [line for line in conds if "zip_with" in line] == []


class _SelfDots(ast.NodeVisitor):
    """Collects the innermost enclosing function of every ``_dot(x, x)``."""

    def __init__(self):
        self.stack: list[str] = []
        self.hits: list[str] = []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    def visit_Call(self, node):
        if (
            getattr(node.func, "id", None) == "_dot"
            and len(node.args) == 2
            and ast.dump(node.args[0]) == ast.dump(node.args[1])
        ):
            self.hits.append(self.stack[-1] if self.stack else "<module>")
        self.generic_visit(node)


def _self_dots() -> set[tuple[str, str]]:
    """(file, enclosing function) of every ``_dot(x, x)`` in the package."""
    hits = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        finder = _SelfDots()
        finder.visit(ast.parse(path.read_text()))
        hits |= {(path.relative_to(PACKAGE).as_posix(), fn) for fn in finder.hits}
    return hits


def test_self_dot_only_where_a_vector_is_made():
    """A self-dot is per-vector work: the embeddings reader computes
    ``s``, the centroid ranking computes each centroid's ``cs``, and a
    scored pair reads both instead of refolding them."""
    assert _self_dots() == {
        ("plans/similarity.py", "_vectors"),
        ("plans/similarity.py", "_rank_cells"),
    }
