"""The one state-merge fold (operators/scale.py::fold) behind every
exactly-once stream state table, and the schema-given read-back of a
staged snapshot.

* Null semantics: a two-batch replay through the two merges the
  benchmark times equals the batch twin over both batches -- an
  all-null total stays null and a null key keeps one row.
* Structure: no state merge in streaming/jobs.py or
  plans/quality.py::_evolve_state is a full-outer or cross join, and
  every merge step builds its merge with ``fold``.
* ``SnapshotSet.stage`` reads its snapshot back with the schema of the
  frame it wrote: no footer job, and the schema inference would give.
"""

from __future__ import annotations

import ast
import datetime as dt
import inspect
import os

from pyspark.sql import functions as F

from mvp_mini_etl_pipeline_1762840347_spark.operators.scale import fold
from mvp_mini_etl_pipeline_1762840347_spark.streaming import jobs

_EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double"
_H0 = dt.datetime(2024, 1, 1, 10, 5)
_H1 = dt.datetime(2024, 1, 1, 11, 20)

# batch 0: ("null_vals", H0) has only null values, user 7 only null
# values; both batches carry a null event_type and a null user_id.
_BATCH0 = [
    (1, _H0, 7, "null_vals", None),
    (2, _H0, 7, "null_vals", None),
    (3, _H0, None, None, 1.5),
    (4, _H1, 8, "view", 2.0),
]
_BATCH1 = [
    (5, _H0, None, None, 2.5),
    (6, _H1, 8, "view", 4.0),
    (7, _H1, None, "click", None),
]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _replay(spark, step):
    """Run ``step(batch_df, batch_id)`` over the two batches; return
    the union of both batches (for the batch twin)."""
    frames = [spark.createDataFrame(b, _EVENTS) for b in (_BATCH0, _BATCH1)]
    for bid, df in enumerate(frames):
        assert step(df, bid) is True
    return frames[0].unionByName(frames[1])


def test_hourly_rollup_fold_keeps_null_totals_and_null_keys(spark, tmp_path):
    path = str(tmp_path / "hourly")
    both = _replay(
        spark, lambda df, bid: jobs.hourly_rollup_merge_step(spark, df, bid, path)
    )
    twin = both.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type").agg(
        F.count("*").alias("pc"), F.sum("value").alias("pv")
    )
    got = spark.read.parquet(path).select("hour", "event_type", "pc", "pv")
    assert _rows(got) == _rows(twin)
    by_type = {r.event_type: r for r in got.collect()}
    assert by_type["null_vals"].pv is None  # not 0.0
    assert sum(r.event_type is None for r in got.collect()) == 1


def test_snapshot_table_fold_keeps_null_totals_and_null_keys(spark, tmp_path):
    from mvp_mini_etl_pipeline_1762840347_spark.operators.table_format import (
        SnapshotTable,
    )

    table = SnapshotTable(spark, str(tmp_path / "snap"))
    both = _replay(spark, lambda df, bid: jobs.snapshot_merge_step(table, df, bid))
    twin = both.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    got = table.read()
    assert _rows(got) == _rows(twin)
    by_user = {r.user_id: r for r in got.collect()}
    assert by_user[7].total_value is None  # not 0.0
    assert sum(r.user_id is None for r in got.collect()) == 1


def test_fold_keeps_the_delta_schema_and_folds_global_states(spark):
    delta = spark.createDataFrame([("a", 1, 5)], "k string, n int, m int")
    target = spark.createDataFrame([("a", 2, 3), ("b", 4, 9)], "k string, n long, m long")
    merged = fold(delta, ["k"], n=F.sum, m=F.max)(target)
    assert merged.dtypes == delta.dtypes
    assert _rows(merged) == [("a", 3, 5), ("b", 4, 9)]
    assert fold(delta, ["k"], n=F.sum, m=F.max)(None) is delta
    one = fold(delta.select("n", "m"), [], n=F.sum, m=F.bit_xor)(target.select("n", "m"))
    assert _rows(one) == [(7, 5 ^ 3 ^ 9)]


# ---------------------------------------------------------------------------
# State-merge gate
# ---------------------------------------------------------------------------
_JOIN_OUTER = {"full", "outer", "full_outer", "fullouter"}
# scd2_merge_step closes and opens dimension versions: not a fold.
_NOT_A_FOLD = {"scd2_merge_step"}


def _outer_or_cross_joins(node):
    bad = []
    for n in ast.walk(node):
        if not isinstance(n, ast.Call) or not isinstance(n.func, ast.Attribute):
            continue
        if n.func.attr == "crossJoin":
            bad.append(f"line {n.lineno}: crossJoin")
        if n.func.attr == "join":
            args = list(n.args) + [k.value for k in n.keywords]
            for a in args:
                if isinstance(a, ast.Constant) and str(a.value).lower() in _JOIN_OUTER:
                    bad.append(f"line {n.lineno}: {a.value} join")
    return bad


def _calls(node):
    return {
        n.func.id
        for n in ast.walk(node)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }


def test_state_merges_are_folds_not_outer_joins():
    from mvp_mini_etl_pipeline_1762840347_spark.plans import quality

    tree = ast.parse(inspect.getsource(jobs))
    assert _outer_or_cross_joins(tree) == []
    evolve = ast.parse(inspect.getsource(quality._evolve_state))
    assert _outer_or_cross_joins(evolve) == []
    assert "fold" in _calls(evolve)

    defs = [f for f in tree.body if isinstance(f, ast.FunctionDef)]
    # fold itself, or a helper here that returns a fold merge
    # (release_diff_merge_fn, the per-user twins' helper)
    builders = {"fold"} | {f.name for f in defs if "fold" in _calls(f)}
    steps = {
        f.name: f
        for f in defs
        if f.name.endswith("_merge_step") or f.name == "release_diff_merge_fn"
    }
    assert len(steps) >= 15, sorted(steps)
    assert "fold" in _calls(steps["release_diff_merge_fn"])
    for name, f in steps.items():
        if name not in _NOT_A_FOLD:
            assert _calls(f) & builders, name


# ---------------------------------------------------------------------------
# SnapshotSet.stage read-back
# ---------------------------------------------------------------------------
def test_stage_read_back_takes_the_written_schema(
    spark, sf_dir, count_jobs, monkeypatch
):
    """A fresh build of all 7 curation stores: each staged read-back
    launches no job and carries the schema inference would give,
    nullability included.  The members stage one after another here,
    so each read-back's jobs are counted alone."""
    from mvp_mini_etl_pipeline_1762840347_spark.operators import table_format
    from mvp_mini_etl_pipeline_1762840347_spark.plans import quality
    from mvp_mini_etl_pipeline_1762840347_spark.plans.quality import (
        STORE_TABLES,
        _build_curation_state,
        _ib_of,
    )

    real = table_format.read_parquet
    seen = {}

    def counted(spark_, path, **kw):
        if "schema" not in kw:  # not a stage read-back
            return real(spark_, path, **kw)
        df, n_jobs = count_jobs(lambda: real(spark_, path, **kw))
        seen[os.path.basename(os.path.dirname(path))] = (path, df.schema, n_jobs)
        return df

    monkeypatch.setattr(table_format, "read_parquet", counted)
    monkeypatch.setattr(
        quality, "fan_out", lambda calls: {k: call() for k, call in calls.items()}
    )
    _build_curation_state(spark, sf_dir, lambda c: _ib_of(c) < 6)

    assert set(seen) == set(STORE_TABLES)
    for name, (path, schema, n_jobs) in seen.items():
        assert n_jobs == 0, name
        assert schema == spark.read.parquet(path).schema, name
