"""Driver-built frames land as JVM local relations.

`io.local_frame` is the package's only way from Python rows to a
DataFrame.  These tests pin that it accepts and lands exactly what
`spark.createDataFrame(rows, schema)` does, that nothing else in the
package calls `createDataFrame`, and that every driver-built frame
plans a `LocalTableScan` instead of a pickled Python RDD."""

from __future__ import annotations

import datetime
import inspect
import pathlib

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

import __spark_entry__ as entrymod
from mvp_mini_etl_pipeline_1762840347_spark import io
from mvp_mini_etl_pipeline_1762840347_spark.pipeline import runner, sources

PACKAGE = pathlib.Path(io.__file__).parent

_NESTED = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("st", T.StructType([T.StructField("x", T.StringType())])),
        T.StructField("a", T.ArrayType(T.StringType())),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    ]
)

# (rows, schema) pairs: each must land identically through both paths,
# or be rejected by both.
_CASES = {
    "coerced strings": (
        [(12345, 1, 2, 1.5, True, (True,), [1, 2.5, None], {"k": 1})],
        _NESTED,
    ),
    "dicts with missing and extra keys": (
        [{"s": "a", "st": {"x": "y", "z": 1}, "extra": 0}, {"i": 7}],
        _NESTED,
    ),
    "nulls and rows": (
        [Row(s=None, i=None, l=None, d=None, b=None, st=None, a=None, m=None)],
        _NESTED,
    ),
    "ddl schema": ([(0.0, 50.0, "low"), (50.0, 1e9, "high")], "lo double, hi double, band string"),
    "datetimes": (
        [
            (datetime.datetime(2024, 1, 2, 3, 4, 5, 678901), datetime.date(2024, 1, 2)),
            (datetime.datetime(2024, 6, 2, tzinfo=datetime.timezone.utc), None),
        ],
        "t timestamp, dt date",
    ),
    "empty": ([], "user_id long, valid_from timestamp, is_current boolean"),
    "inferred": ([{"a": 1, "b": [1.5], "c": {"k": "v"}}, {"a": None, "b": [], "c": {}}], None),
    "float for int": ([(30.0,)], "age int"),
    "string for int": ([("30",)], "age int"),
    "int for double": ([(1,)], "x double"),
    "int out of range": ([(2**31,)], "x int"),
    "short tuple": ([(1,)], "a int, b int"),
    "null in non-nullable": (
        [(None,)],
        T.StructType([T.StructField("a", T.StringType(), nullable=False)]),
    ),
    "uninferable": ([{"a": None}], None),
}


def _land(fn):
    try:
        df = fn()
        return "ok", df.schema, df.collect()
    except Exception as exc:  # noqa: BLE001 - acceptance is the observable
        return "rejected", type(exc).__name__, None


@pytest.mark.parametrize("case", list(_CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = _CASES[case]
    old = _land(lambda: spark.createDataFrame(rows, schema))
    new = _land(lambda: io.local_frame(spark, rows, schema))
    assert new == old


def _no_python_rdd(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_create_dataframe_only_inside_local_frame():
    lines, start = inspect.getsourcelines(io.local_frame)
    helper = range(start, start + len(lines))
    hits = [
        (path.relative_to(PACKAGE).as_posix(), n)
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert hits, "local_frame no longer calls createDataFrame"
    assert [h for h in hits if h[0] != "io.py" or h[1] not in helper] == []


def test_extract_frames_plan_local_table_scans(spark, monkeypatch):
    users = [{"login": {"uuid": f"u{i}"}, "name": {"first": "A", "last": str(i)}} for i in range(5)]
    launches = [{"id": f"l{i}", "name": f"M{i}", "success": True, "payloads": ["p"]} for i in range(4)]

    def fetch(url, timeout):
        if "launches" in url:
            return launches
        return {"results": users} if "users" in url else [{"k": 1}]

    monkeypatch.setattr(sources, "_fetch_json", fetch)
    live_users = sources.load_users(spark, url="fixture://users")
    live_launches = sources.load_launches(spark, base_url="fixture://spacex")
    assert not live_users.fallback_used and not live_launches.fallback_used
    frames = {
        "users": live_users.df,
        "launches": live_launches.df,
        "fallback users": sources.fallback_users_df(spark),
        "fallback launches": sources.fallback_launches_df(spark),
        **sources.load_json_sources_failsoft(spark, {"ok": "fixture://json"}),
    }
    for df in frames.values():
        _no_python_rdd(df)
    monkeypatch.setattr(sources, "_fetch_json", lambda url, timeout: [])
    empty = sources.load_json_sources_failsoft(spark, {"empty": "fixture://json"})["empty"]
    assert empty.count() == 0 and empty.columns == []

    run = runner.PipelineRun()
    run.log_line("extract", "Fetched 5 records")
    log = run.log_df(spark)
    _no_python_rdd(log)
    assert [r.message for r in log.collect()] == ["Fetched 5 records"]


@pytest.mark.parametrize(
    "name",
    ["range_join_bands", "fd_profile", "sketch_quantile_hist", "sketch_quantile_merge", "coreset_kcenter"],
)
def test_plan_sites_land_local_relations(spark, sf_dir, name):
    """The lookup tables and result traces the queries build on the
    driver plan as local relations (the localCheckpoint ExistingRDDs
    that vocab_coverage pins in test_plans.py are a different thing:
    JVM-materialised partials, not pickled rows)."""
    _no_python_rdd(entrymod.queries()[name](spark, sf_dir))
